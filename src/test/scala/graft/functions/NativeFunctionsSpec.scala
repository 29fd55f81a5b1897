package graft.functions

import graft.{GraftExtensions, SparkSpec}
import graft.ml.{Dedup, Similarity}
import java.util.concurrent.atomic.AtomicLong
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

/** The native functions reach SQL through one table
  * ([[GraftExtensions.functions]]) and reach the Column API without any
  * function registry.
  */
class NativeFunctionsSpec extends SparkSpec {

  private val names = GraftExtensions.functions.map(_.name)

  /** One well-formed SQL call per table entry. */
  private val sqlCalls = Map(
    "portable_simhash" -> "portable_simhash(array('a', 'b'))",
    "unicode_tokens" -> "unicode_tokens('Two words')",
    "distinct_shingles" -> "distinct_shingles(array('a', 'b', 'a', 'b'), 2)",
    "minhash_sig" -> "minhash_sig(array('a', 'b', 'c'), 2, 4)",
    "md5num" -> "md5num('abc', 8)",
    "opt_barrier" -> "opt_barrier(7)",
    "vec_dot" -> "vec_dot(array(1d, 2d), array(3d, 4d))",
    "vec_cosine" -> "vec_cosine(array(1d, 0d), array(1d, 1d))",
    "vec_scale_inv" -> "vec_scale_inv(array(2d, 4d), 2d)",
    "vec_norm2" -> "vec_norm2(array(3d, 4d))",
    "tile_pack" -> "tile_pack(pos, value, 2)"
  )

  private def viaSql(call: String) =
    spark.sql(s"SELECT $call FROM VALUES (0, 1d) AS t(pos, value)").collect()

  test("every native function resolves through spark.sql") {
    assert(names.size == 11 && names.toSet == sqlCalls.keySet)
    names.foreach { n =>
      val rows = viaSql(sqlCalls(n))
      assert(rows.length == 1 && !rows.head.isNullAt(0), n)
    }
  }

  test("wrong arity through spark.sql names the function's parameters") {
    GraftExtensions.functions.foreach { f =>
      for (argc <- Seq(f.params.length - 1, f.params.length + 1)) {
        val e = intercept[Exception](viaSql(s"${f.name}(${Seq.fill(argc)("1").mkString(", ")})"))
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        val expected = s"${f.name} takes (${f.params.mkString(", ")}), got $argc arguments"
        assert(
          chain.exists(c => c.isInstanceOf[IllegalArgumentException] && c.getMessage == expected),
          s"expected '$expected', got $e"
        )
      }
    }
  }

  test("Column APIs evaluate with no native function registered") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    names.foreach(n => registry.dropFunction(FunctionIdentifier(n)))
    assert(names.forall(n => !registry.functionExists(FunctionIdentifier(n))))
    import s.implicits._
    val df = Seq((0, 1.0, "alpha beta", Seq(1.0, 0.0))).toDF("pos", "value", "text", "v")
    val row = df
      .select(
        PortableSimHash.of(UnicodeTokens.tokens(col("text"))).as("sh"),
        VectorOps.cosine(col("v"), col("v")).as("cos"),
        UnicodeTokens.tokens(col("text")).as("toks")
      )
      .head()
    assert(!row.isNullAt(0))
    assert(row.getDouble(1) == 1.0)
    assert(row.getSeq[String](2) == Seq("alpha", "beta"))
    val tile = df.groupBy().agg(TilePack.of(col("pos"), col("value"), 2).as("t")).head()
    assert(tile.getSeq[Any](0) == Seq(1.0, null))
  }

  test("Dedup and Similarity runs replace no registered function") {
    import spark.implicits._
    val replaced = new AtomicLong()
    val appender = new AbstractAppender("native-function-replacements", null, null, true, Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit =
        if (event.getMessage.getFormattedMessage.contains("replaced a previously registered function"))
          replaced.incrementAndGet()
    }
    appender.start()
    val logs = LogManager.getContext(false).asInstanceOf[LoggerContext]
    logs.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    logs.updateLoggers()
    try {
      val docs = Seq((1L, "the quick brown fox"), (2L, "the quick brown cat")).toDF("doc_id", "text")
      val emb = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
      // twice each: a per-call registration warns from its second call on
      for (_ <- 1 to 2) {
        assert(Dedup.simHash(docs, "doc_id", "text").collect().length == 2)
        assert(Similarity.cosineTopK(emb, "vec_id", "embedding", col("vec_id") === 0, k = 2).collect().length == 2)
      }
    } finally {
      logs.getConfiguration.getRootLogger.removeAppender(appender.getName)
      logs.updateLoggers()
      appender.stop()
    }
    assert(replaced.get() == 0)
  }
}
