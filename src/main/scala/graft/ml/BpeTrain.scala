package graft.ml

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer training (Sennrich et al.
  * 2016): learn the top-K symbol merges over a corpus, greedily and
  * one at a time, exactly as sequential BPE trainers do.
  *
  * Shape at scale — the classic trick is that BPE never iterates over
  * the corpus, only over the WORD-FREQUENCY DICT:
  *   1. one corpus pass builds `(word, freq)` (map-side combined;
  *      vocab-sized output, orders of magnitude below corpus size),
  *      checkpointed and counted by the same job;
  *   2. a dict of at most [[DriverMaxDictRows]] rows is collected and
  *      all K merges are learned on the driver (pair counts, argmax,
  *      greedy fold), then the merged dict comes back as an RDD-backed
  *      frame — two jobs in all, whatever K is;
  *   3. a larger dict stays distributed: each of the K merge rounds is
  *      a pair-count aggregation over the dict (vocab-sized shuffle)
  *      followed by a 1-row argmax collect, and the merge is applied
  *      to the dict with a codegen'd array fold, no shuffle at all.
  * At 100 TB the dict is still ~10^6-10^7 rows; K rounds of a
  * dict-sized aggregation is how production BPE trainers distribute
  * (and why they all keep the dict, not the corpus, as the loop
  * state). A corpus whose vocabulary fits the driver pays K jobs for
  * nothing, which is what step 2 removes.
  *
  * Everything is integer/string arithmetic — pair counts are exact
  * longs, the argmax tie-break is (count DESC, left, right) on binary
  * string order — so the learned merge table is hash-checkable
  * against a DuckDB oracle with zero float tolerance.
  */
object BpeTrain {

  /** End-of-word marker appended to every symbol sequence so learned
    * merges distinguish word-final from word-internal contexts.
    */
  val EndOfWord = "</w>"

  final case class Merge(rank: Int, left: String, right: String, pairCount: Long)

  /** `(word, freq, syms)` — corpus-wide token occurrence counts with
    * each word exploded into its character sequence plus [[EndOfWord]].
    * `split(word, "")` keeps a trailing empty string in Spark (Java
    * `split` with limit -1); `array_remove` drops it.
    */
  def wordDict(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(TextStats.tokens(col(textCol))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .withColumn(
        "syms",
        concat(array_remove(split(col("word"), ""), ""), array(lit(EndOfWord)))
      )

  /** Adjacent symbol pairs of one dict row, weighted by word freq.
    * The `size >= 2` guard matters: Spark's `sequence(1, 0)` is a
    * DESCENDING sequence, not empty.
    */
  private def pairCounts(dict: DataFrame): DataFrame =
    dict
      .select(
        col("freq"),
        explode(
          when(
            size(col("syms")) >= 2,
            expr(
              "transform(sequence(1, size(syms) - 1), " +
                "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"
            )
          ).otherwise(expr("array()").cast("array<struct<a:string,b:string>>"))
        ).as("p")
      )
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))

  /** Greedy left-to-right application of one merge `(a, b) -> ab` as
    * an array fold: leftmost pair wins, the merged token never
    * re-merges with the next element in the same pass ("aaa" with
    * merge (a,a) gives [aa, a], not [aa, aa]). Mirrors DuckDB
    * `list_reduce` in the oracle, whose seed is the first singleton —
    * equivalent to this empty-seed fold.
    */
  def applyMerge(syms: Column, left: String, right: String): Column =
    aggregate(
      syms,
      expr("array()").cast("array<string>"),
      (acc, x) =>
        when(
          size(acc) > 0 && element_at(acc, -1) === lit(left) && x === lit(right),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(left + right)))
        ).otherwise(concat(acc, array(x)))
    )

  /** Largest word-dict row count [[learnMerges]] learns on the
    * driver. A dict row costs about 1 KB of driver heap at the peak:
    * the collected row with its word and an ~8-symbol `syms` array of
    * short strings (~600 B), the merged copy of that array (~200 B)
    * and its share of one round's pair-count map (~200 B). 2^17 rows
    * is thus about 130 MB, an eighth of Spark's default 1 GB driver
    * heap.
    */
  private[ml] val DriverMaxDictRows: Long = 1L << 17

  /** Learn `numMerges` merges. Returns the merge table in learned
    * order plus the dict with all merges applied (for downstream
    * vocab extraction / encoding).
    */
  def learnMerges(
      docs: DataFrame,
      textCol: String,
      numMerges: Int
  ): (Seq[Merge], DataFrame) =
    learnMergesWith(docs, textCol, numMerges, DriverMaxDictRows)

  /** [[learnMerges]] with the driver dict-size limit as a parameter,
    * so specs can run the distributed rounds on small corpora (a
    * negative limit never learns on the driver).
    */
  private[ml] def learnMergesWith(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      driverMaxRows: Long
  ): (Seq[Merge], DataFrame) = {
    val dict = wordDict(docs, textCol).localCheckpoint(false)
    // one job: builds the dict, materializes its checkpoint, sizes it
    if (dict.count() <= driverMaxRows) {
      val rows = dict.collect()
      val (ms, merged) = mergeLocally(rows.map(_.getLong(1)), rows.map(_.getSeq[String](2).toArray), numMerges)
      val out = rows.indices.map(i => Row(rows(i).getString(0), rows(i).getLong(1), merged(i).toSeq))
      val s = dict.sparkSession
      (ms, s.createDataFrame(s.sparkContext.parallelize(out), dict.schema))
    } else learnDistributed(dict, numMerges)
  }

  private def learnDistributed(dict0: DataFrame, numMerges: Int): (Seq[Merge], DataFrame) = {
    var dict = dict0
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val best = pairCounts(dict)
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += Merge(rank, a, b, c)
        // checkpoint per round: the fold chain stays one level deep and
        // the next round's pair count never re-runs earlier folds
        dict = dict
          .withColumn("syms", applyMerge(col("syms"), a, b))
          .localCheckpoint(true)
        rank += 1
      }
    }
    (merges.result(), dict)
  }

  /** The distributed rounds' semantics on driver arrays: pair counts
    * weighted by `freqs`, argmax by (count DESC, left, right) in
    * Spark's binary string order, greedy left-to-right application.
    * Returns the merges and every word's merged symbols.
    */
  private def mergeLocally(
      freqs: Array[Long],
      words: Array[Array[String]],
      numMerges: Int
  ): (Seq[Merge], Array[Array[String]]) = {
    var syms = words
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      syms.indices.foreach { i =>
        val w = syms(i)
        (0 until w.length - 1).foreach { j =>
          val p = (w(j), w(j + 1))
          counts(p) = counts.getOrElse(p, 0L) + freqs(i)
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), c) = counts.reduce { (x, y) =>
          val byCount = java.lang.Long.compare(y._2, x._2)
          val order =
            if (byCount != 0) byCount
            else {
              val byLeft = binaryCompare(x._1._1, y._1._1)
              if (byLeft != 0) byLeft else binaryCompare(x._1._2, y._1._2)
            }
          if (order <= 0) x else y
        }
        merges += Merge(rank, a, b, c)
        syms = syms.map(mergeWord(_, a, b))
        rank += 1
      }
    }
    (merges.result(), syms)
  }

  /** Spark's default string order: unsigned UTF-8 bytes, i.e. code
    * points. `String.compareTo` compares UTF-16 units and puts a
    * supplementary character below U+E000–U+FFFF.
    */
  private def binaryCompare(x: String, y: String): Int =
    java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y.getBytes(UTF_8))

  /** [[applyMerge]] on one word. */
  private def mergeWord(syms: Array[String], left: String, right: String): Array[String] = {
    val acc = mutable.ArrayBuffer.empty[String]
    syms.foreach { x =>
      if (acc.nonEmpty && acc.last == left && x == right) acc(acc.length - 1) = left + right
      else acc += x
    }
    acc.toArray
  }

  /** Merge table as a DataFrame: `(merge_rank, left, right, pair_count)`. */
  def merges(s: SparkSession, docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    import s.implicits._
    val (ms, _) = learnMerges(docs, textCol, numMerges)
    ms.toDF("merge_rank", "left_sym", "right_sym", "pair_count")
  }

  /** Encode: apply an already-learned merge list to a token column,
    * in learned order (how a trained BPE tokenizer segments text).
    * Purely array folds — a codegen'd projection, no shuffle.
    */
  def encodeTokens(toks: Column, learned: Seq[Merge]): Column = {
    val chars = transform(
      toks,
      w => concat(array_remove(split(w, ""), ""), array(lit(EndOfWord)))
    )
    learned.foldLeft(chars) { (acc, m) =>
      transform(acc, syms => applyMerge(syms, m.left, m.right))
    }
  }
}
