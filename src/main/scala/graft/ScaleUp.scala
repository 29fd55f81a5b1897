package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: replicate an sf directory by an
  * integer factor into consistent, non-degenerate shards so the bench
  * can be run one order of magnitude above the gate SF (the sf1
  * rehearsal). NOT part of the engine — a dev tool, like Bench/Verify.
  *
  * Replica k (k=0 is the identity copy) is an independent consistent
  * shard: every key column shifts by k*(max+1) so foreign-key joins
  * keep their per-shard cardinality (10x data => 10x join output, the
  * same shape a 10x-bigger generated dataset would have). Dimension
  * tables (region, nation) stay 1x — exactly how a real deployment
  * scales.
  *
  * Content columns are perturbed per replica so similarity operators
  * see new data rather than 10 exact copies of the old (which would
  * turn every near-dup bucket quadratic and measure a pathology, not
  * scaling):
  *   - documents.text: per-replica Caesar rotation of the lowercase
  *     alphabet — token boundaries, lengths and counts are preserved
  *     (the text-stats workload is identical) while cross-replica
  *     shingle overlap drops to noise;
  *   - embeddings.embedding: rotate the vector by k positions — norm
  *     and component distribution preserved, cross-replica cosine
  *     decorrelated.
  *
  * Text perturbation modes (4th arg, default `caesar`):
  *   - `caesar`: the historical per-replica alphabet rotation. Its
  *     period is 26, so at factor >= 27 replicas k and k+26 carry
  *     IDENTICAL text — duplicate density GROWS with the factor
  *     (~factor/26 exact copies of every document at 100x). That is a
  *     legitimate dedup workload (the planted duplicates are what the
  *     pair family must find) but it makes pair-row output quadratic
  *     in the factor, conflating output volume with engine scaling.
  *   - `perm`: an independent pseudorandom alphabet PERMUTATION per
  *     replica (splitmix64-seeded Fisher-Yates; k=0 stays identity).
  *     No period — any two distinct replicas differ by a random
  *     substitution, cross-replica shingle overlap is noise at EVERY
  *     factor, so duplicate density (and with it the true pair count)
  *     stays CONSTANT as the factor grows. Token boundaries, lengths
  *     and counts are preserved exactly like caesar. This is the
  *     constant-density leg that separates "output got quadratically
  *     bigger" from "the engine scaled superlinearly".
  *   - `perm-ml`: `perm` plus a deterministic MULTILINGUAL slice:
  *     20% of docs (by xxhash64(doc_id) mod 20) transliterate
  *     letter-for-letter into a non-Latin script — 10% CJK, 5%
  *     Cyrillic, 5% Arabic. Char counts are preserved 1:1, but the CJK
  *     slice's token count becomes ~ its character count
  *     (char-fallback) and its shingle volume grows accordingly — the
  *     real cost profile of a mixed-language crawl, which the ASCII
  *     corpora never measured.
  *
  * The sf10 rehearsal runs BOTH legs — `caesar` (the duplicate-density
  * workload: planted exact replicas stress the dedup/pair family's
  * output path) AND `perm` (the constant-density workload: the
  * engine-scaling measurement) — and `BENCH_SF10.json` reports the
  * pair-family rows under both, so the >30x pair-row tail is
  * attributed to output volume, not engine scaling.
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <outDir> <factor> [caesar|perm|perm-ml]
  */
object ScaleUp {

  private def shifted(df: DataFrame, keyCols: Map[String, Long], k: Int): DataFrame =
    keyCols.foldLeft(df) { case (d, (c, span)) => d.withColumn(c, col(c) + lit(span * k)) }

  /** max(key)+1 — the shift span that keeps replica key ranges disjoint. */
  private def span(df: DataFrame, c: String): Long =
    df.agg(coalesce(max(col(c)), lit(0L))).head().getLong(0) + 1L

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 26-letter script alphabets for the `perm-ml` transliteration
    * slice — each a distinct single BMP code point per Latin letter
    * (char count preserved 1:1). The CJK set is entirely in the Han
    * main block, so the tokenizer's char-fallback applies.
    */
  private[graft] val CjkAlphabet = "的一是不了人我在有他这中大来上国个到说们为子和你地出"
  private[graft] val CyrAlphabet = "абвгдежзиклмнопрстуфхцчшщэ"
  private[graft] val ArAlphabet = "ابتثجحخدذرزسشصضطظعغفقكلمنه"

  /** Replica k's lowercase-alphabet image under the chosen mode
    * (`perm-ml` = `perm` + the multilingual transliteration slice,
    * applied separately in the documents writer).
    */
  private[graft] def replicaAlphabet(mode: String, k: Int): String = {
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    mode match {
      case "caesar" => alphabet.drop(k % 26) + alphabet.take(k % 26)
      case "perm" | "perm-ml" =>
        if (k == 0) alphabet
        else {
          val a = alphabet.toCharArray
          var i = a.length - 1
          while (i >= 1) {
            val j = java.lang.Long.remainderUnsigned(mix64(k.toLong * 31L + i), i + 1L).toInt
            val t = a(i); a(i) = a(j); a(j) = t
            i -= 1
          }
          new String(a)
        }
      case other => throw new IllegalArgumentException(s"unknown text mode '$other' (caesar|perm|perm-ml)")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4, "usage: ScaleUp <srcSfDir> <outDir> <factor> [caesar|perm|perm-ml]")
    val (src, out, factor) = (args(0), args(1), args(2).toInt)
    val textMode = if (args.length == 4) args(3) else "caesar"
    replicaAlphabet(textMode, 1) // validate the mode before any work
    require(factor >= 1)
    val spark = Session.local(Session.cores)

    def rd(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def wr(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"scaleup: $name x$factor written")
    }

    // dimensions: 1x
    wr(rd("region"), "region", 1)
    wr(rd("nation"), "nation", 1)

    val (customer, orders, part, supplier, events, documents, embeddings) =
      (rd("customer"), rd("orders"), rd("part"), rd("supplier"), rd("events"), rd("documents"), rd("embeddings"))
    val lineitem = rd("lineitem")
    val cSpan = span(customer, "c_custkey")
    val oSpan = span(orders, "o_orderkey")
    val pSpan = span(part, "p_partkey")
    val sSpan = span(supplier, "s_suppkey")
    val eSpan = span(events, "event_id")
    val uSpan = span(events, "user_id")
    val dSpan = span(documents, "doc_id")
    val vSpan = span(embeddings, "vec_id")

    def replicas(one: Int => DataFrame): DataFrame =
      (0 until factor).map(one).reduce(_ unionAll _)

    wr(replicas(k => shifted(customer, Map("c_custkey" -> cSpan), k)), "customer", 4 * factor / 2 max 2)
    wr(replicas(k => shifted(supplier, Map("s_suppkey" -> sSpan), k)), "supplier", 2)
    wr(replicas(k => shifted(part, Map("p_partkey" -> pSpan), k)), "part", 4)
    wr(replicas(k => shifted(orders, Map("o_orderkey" -> oSpan, "o_custkey" -> cSpan), k)), "orders", factor)
    wr(
      replicas(k => shifted(lineitem, Map("l_orderkey" -> oSpan, "l_partkey" -> pSpan, "l_suppkey" -> sSpan), k)),
      "lineitem",
      2 * factor
    )
    wr(replicas(k => shifted(events, Map("event_id" -> eSpan, "user_id" -> uSpan), k)), "events", factor)

    // the planted multilingual fixture ids live at MinId+; a replica
    // shift reaching them would silently duplicate keys in the
    // token/langID/near-dup families (max shifted id is dSpan*factor-1)
    require(
      dSpan * factor.toLong <= graft.tables.MultilingualFixtures.MinId,
      s"doc_id shift span $dSpan x factor $factor reaches the multilingual fixture id range " +
        s"(>= ${graft.tables.MultilingualFixtures.MinId}) — raise MinId before scaling this far"
    )
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    wr(
      replicas { k =>
        // map BOTH cases: tokenizers lowercase first, so an
        // unmapped uppercase letter would leak cross-replica overlap
        val img = replicaAlphabet(textMode, k)
        val base = shifted(documents, Map("doc_id" -> dSpan), k)
          .withColumn(
            "text",
            translate(col("text"), alphabet + alphabet.toUpperCase, img + img.toUpperCase)
          )
        if (textMode == "perm-ml") {
          // deterministic multilingual slice: 20% of docs transliterate
          // letter-for-letter into a non-Latin script (10% CJK — whose
          // char-fallback makes token count ~ character count — 5%
          // Cyrillic, 5% Arabic). Each Latin letter maps to ONE BMP
          // char, so n_chars stays exact and token boundaries are
          // preserved for the alphabetic scripts; the CJK slice is the
          // one whose token/shingle volume legitimately explodes —
          // that cost is what the sf1 refresh exists to measure.
          val sel = pmod(xxhash64(col("doc_id")), lit(20))
          def xlit(target: String) =
            translate(col("text"), alphabet + alphabet.toUpperCase, target + target)
          base.withColumn(
            "text",
            when(sel < 2, xlit(CjkAlphabet))
              .when(sel === 2, xlit(CyrAlphabet))
              .when(sel === 3, xlit(ArAlphabet))
              .otherwise(col("text"))
          )
        } else base
      },
      "documents",
      factor
    )
    // same invariant for the planted degenerate-embedding fixtures
    require(
      vSpan * factor.toLong <= graft.tables.EmbeddingFixtures.MinId,
      s"vec_id shift span $vSpan x factor $factor reaches the embedding fixture id range " +
        s"(>= ${graft.tables.EmbeddingFixtures.MinId}) — raise MinId before scaling this far"
    )
    wr(
      replicas { k =>
        val n = 64
        val rotated =
          if (k % n == 0) col("embedding")
          else
            concat(
              slice(col("embedding"), k % n + 1, n - k % n),
              slice(col("embedding"), 1, k % n)
            )
        shifted(embeddings, Map("vec_id" -> vSpan), k).withColumn("embedding", rotated)
      },
      "embeddings",
      2
    )
    spark.stop()
  }
}
