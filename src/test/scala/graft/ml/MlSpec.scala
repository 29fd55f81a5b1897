package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MlSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("TextStats.tokens + bpeish count") {
    import spark.implicits._
    val out = Seq(("Hello, World! it's 42 degrees."))
      .toDF("text")
      .select(
        TextStats.tokens(col("text")).as("toks"),
        TextStats.bpeishTokenCount(col("text")).as("bpe")
      )
      .collect()
      .head
    assert(out.getSeq[String](0) == Seq("hello", "world", "it", "s", "42", "degrees"))
    assert(out.getInt(1) > 6) // BPE-ish segmentation is finer than words
  }

  test("TextStats.predictedLang: stopword evidence, deterministic ties, und fallback") {
    import spark.implicits._
    val out = Seq(
      ("the cat and the dog of it is that", "en"),
      ("el perro de la casa que es un gato", "es"),
      ("xyzzy qwerty plugh", "und")
    ).toDF("text", "expected")
      .select(TextStats.predictedLang(TextStats.tokens(col("text"))).as("p"), col("expected"))
      .collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("Dedup.shingles builds distinct word 3-grams") {
    val sh = Dedup
      .shingles(docs((1L, "a b c d e, a b c d e")), "doc_id", "text", 3)
      .collect()
      .map(_.getString(1))
      .toSet
    assert(sh.contains("a b c") && sh.contains("c d e") && sh.contains("e a b"))
    // 10 tokens -> 8 positions, but the repeated half collapses: 5 distinct
    assert(sh == Set("a b c", "b c d", "c d e", "d e a", "e a b"))
  }

  test("Dedup.spread keeps full width under AQE (REPARTITION_BY_NUM, not BY_COL)") {
    // the q_containment regression: repartition(key) without a count
    // is coalescible by AQE, which folded the tiny-bytes docs shuffle
    // back to ~1 partition and serialized the tokenize/shingle kernels
    // plus everything under the localCheckpoint. The explicit-count form
    // must survive execution at defaultParallelism. The docs start in
    // ONE partition so that spread's repartition really runs.
    val d = docs((1L to 64L).map(i => (i, s"alpha beta gamma delta epsilon $i")): _*).coalesce(1)
    val n = Dedup.shingles(d, "doc_id", "text", 3).rdd.getNumPartitions
    assert(
      n >= spark.sparkContext.defaultParallelism,
      s"spread collapsed to $n partitions (defaultParallelism ${spark.sparkContext.defaultParallelism})"
    )
  }

  test("Dedup.jaccardPairs: identical docs J=1, disjoint docs absent") {
    val d = docs(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")
    )
    val sh = Dedup.shingles(d, "doc_id", "text", 3)
    val pairs = Dedup
      .jaccardPairs(sh, "doc_id", 0.5)
      .collect()
      .map(r => (r.getLong(r.fieldIndex("d1")), r.getLong(r.fieldIndex("d2")), r.getDouble(r.fieldIndex("jaccard"))))
    assert(pairs.toList == List((1L, 2L, 1.0)))
  }

  test("Dedup.containmentPairs surfaces a quoted subset that Jaccard misses") {
    // doc 1 is fully contained in doc 2 (a long doc quoting a short
    // one); their Jaccard is small but containment is 1.0
    val d = docs(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon one two three four five six seven " +
        "eight nine ten eleven twelve thirteen fourteen fifteen sixteen"),
      (3L, "red orange yellow green blue indigo violet")
    )
    val sh = Dedup.shingles(d, "doc_id", "text", 3)
    val cts = Dedup
      .containmentPairs(sh, "doc_id", threshold = 0.9, maxShingleDocFreq = 50)
      .collect()
      .map(r => (r.getLong(r.fieldIndex("d1")), r.getLong(r.fieldIndex("d2")),
        r.getDouble(r.fieldIndex("containment"))))
    assert(cts.toList == List((1L, 2L, 1.0)))
    // the same pair is invisible to symmetric Jaccard at any useful threshold
    val jac = Dedup.jaccardPairs(sh, "doc_id", 0.5).collect()
    assert(jac.isEmpty)
  }

  test("Dedup.minHashNearDups catches a high-Jaccard pair") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (3L, "completely different content about spark catalyst optimizer internals here")
    )
    val pairs = Dedup
      .minHashNearDups(d, "doc_id", "text", 3, numPerm = 8, bands = 4, threshold = 0.5)
      .select("d1", "d2")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toList == List((1L, 2L)))
  }

  test("Dedup.simHash: identical texts equal; near-dups closer than unrelated") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog every single day"),
      (2L, "the quick brown fox jumps over the lazy dog every single night"),
      (3L, "the quick brown fox jumps over the lazy dog every single day"),
      (4L, "catalyst tungsten shuffle partition broadcast codegen executor driver stage task")
    )
    val h = Dedup.simHash(d, "doc_id", "text").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) < ham(h(1L), h(4L)))
    assert(ham(h(1L), h(2L)) <= 20)
  }

  test("Similarity.cosineTopK exact ranking") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity
      .cosineTopK(emb, "vec_id", "embedding", col("vec_id") === 0, k = 2)
      .orderBy("rank")
      .collect()
      .map(r => (r.getInt(r.fieldIndex("rank")), r.getLong(r.fieldIndex("neighbor_id"))))
    assert(out.toList == List((1, 1L), (2, 2L)))
  }

  test("Similarity.annTopK is deterministic and self-consistent") {
    import spark.implicits._
    val vecs = (0L until 100L).map { i =>
      i -> Array.tabulate(64)(j => math.sin(i * 7.0 + j).toFloat)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    def run() = Similarity
      .annTopK(emb, "vec_id", "embedding", col("vec_id") % 20 === 0, k = 3, nPlanes = 8)
      .collect()
      .map(r => (r.getLong(r.fieldIndex("query_id")), r.getInt(r.fieldIndex("rank")), r.getLong(r.fieldIndex("neighbor_id"))))
      .toList
    val a = run()
    assert(a == run()) // deterministic planes -> stable output
    assert(a.nonEmpty)
    assert(a.forall { case (q, _, n) => q != n })
  }

  test("Similarity.nearDupPairs finds planted near-dup pairs; blocked path is a high-recall subset") {
    import spark.implicits._
    // 40 iid-uniform base vectors (near-orthogonal in 64-dim) + 10
    // jittered copies of the first 10 (the planted true near-dups)
    val raw = Similarity.hyperplanes(40, 64, seed = 7L)
    val base = raw.zipWithIndex.map { case (v, i) => i.toLong -> v.map(_.toFloat) }.toSeq
    val dups = (0 until 10).map { i =>
      (100L + i) -> raw(i).zipWithIndex.map { case (x, j) => (x + 0.01 * math.cos(j.toDouble)).toFloat }
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val exact = Similarity
      .nearDupPairs(emb, "vec_id", "embedding", threshold = 0.95)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert((0L until 10L).forall(i => exact.contains((i, 100L + i))), s"planted dups found: $exact")
    assert(exact.size == 10, "no spurious pairs above 0.95 between distinct base vectors")
    val blocked = Similarity
      .nearDupPairsBlocked(emb, "vec_id", "embedding", threshold = 0.95, nPlanes = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(blocked.subsetOf(exact), "blocking only drops candidates, never invents them")
    assert(blocked.size >= 8, s"recall >= 0.8 at 8 planes + 1-bit multiprobe, got ${blocked.size}/10")
  }

  test("Similarity.ivfTopK recalls most brute-force neighbors at 4/16 probes") {
    import spark.implicits._
    val vecs = Similarity.hyperplanes(200, 64, seed = 3L)
    val emb = vecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(_.toFloat).toSeq) }
      .toSeq
      .toDF("vec_id", "embedding")
    val pred = col("vec_id") % 40 === 0
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("neighbor_id"))))
      .toSet
    val exact = pairs(Similarity.cosineTopK(emb, "vec_id", "embedding", pred, k = 5))
    val ivf = pairs(Similarity.ivfTopK(emb, "vec_id", "embedding", pred, k = 5))
    assert(ivf.size == exact.size, "every query returns k results")
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall with random data at 4/16 probes, got $recall")
    // determinism
    assert(pairs(Similarity.ivfTopK(emb, "vec_id", "embedding", pred, k = 5)) == ivf)
  }

  test("Similarity.ivfTopK: recall never drops as nProbe grows; probing every list is the exact top-k") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val vecs = Similarity.hyperplanes(200, 64, seed = 3L)
    val emb = vecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(_.toFloat).toSeq) }
      .toSeq
      .toDF("vec_id", "embedding")
    val pred = col("vec_id") % 20 === 0
    def ranked(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map { r =>
        (r.getLong(r.fieldIndex("query_id")), r.getInt(r.fieldIndex("rank")), r.getLong(r.fieldIndex("neighbor_id")))
      }
      .toSet
    // exact truth under the ANN rank rule: cosineTopK scores every
    // neighbor, re-ranked on the 4-decimal quantized cosine with ties
    // to the lower id
    val quantized = Window.partitionBy("query_id").orderBy(round(col("cos"), 4).desc, col("neighbor_id"))
    val exact = ranked(
      Similarity
        .cosineTopK(emb, "vec_id", "embedding", pred, k = 200)
        .withColumn("rank", row_number().over(quantized))
        .filter(col("rank") <= 5)
    )
    assert(exact.size == 10 * 5)
    val truth = exact.map { case (q, _, n) => (q, n) }
    // nProbe p probes the p nearest of the 16 lists, so the probe sets
    // are nested and the candidate sets grow with p
    val hits = (1 to 16).map { p =>
      val got = ranked(Similarity.ivfTopK(emb, "vec_id", "embedding", pred, k = 5, nCentroids = 16, nProbe = p))
      if (p == 16) assert(got == exact, "nProbe = nCentroids must return the exact top-k, ranks included")
      got.count { case (q, _, n) => truth.contains((q, n)) }
    }
    assert(hits.zip(hits.tail).forall { case (a, b) => a <= b }, s"hits by nProbe 1..16: $hits")
    assert(hits.head < hits.last, s"one probed list must miss some true neighbors: $hits")
  }

  test("ivfTopKIndexed over a parquet-persisted buildIvfIndex == inline ivfTopK; geometry guarded") {
    import spark.implicits._
    val vecs = Similarity.hyperplanes(240, 64, seed = 5L)
    val emb = vecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(_.toFloat).toSeq) }
      .toSeq
      .toDF("vec_id", "embedding")
    val cb = Similarity.fitCentroids(emb, "vec_id", "embedding", k = 40, iters = 4, sampleN = 240)
    val pred = col("vec_id") % 12 === 0
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r =>
          (r.getLong(r.fieldIndex("query_id")), r.getInt(r.fieldIndex("rank")),
            r.getLong(r.fieldIndex("neighbor_id"))))
        .toSet
    for (r <- Seq(1, 3)) {
      val inline = rows(
        Similarity.ivfTopK(emb, "vec_id", "embedding", pred, k = 5,
          nCentroids = 40, nProbe = 6, codebook = Some(cb), corpusReplicas = r))
      val path = java.nio.file.Files.createTempDirectory(s"graft-ivfidx$r").toString
      Similarity
        .buildIvfIndex(emb, "vec_id", "embedding", nCentroids = 40,
          codebook = Some(cb), corpusReplicas = r)
        .write
        .mode("overwrite")
        .parquet(path)
      val served = rows(
        Similarity.ivfTopKIndexed(emb, "vec_id", "embedding", pred,
          spark.read.parquet(path), k = 5, nCentroids = 40, nProbe = 6,
          codebook = Some(cb), multiAssigned = r > 1))
      assert(served == inline, s"persisted-index serving must equal inline ivfTopK at R=$r")
      // the candidate-dedup decision is DERIVED from the replica count
      // buildIvfIndex stamps on the cluster column (and the stamp
      // survives parquet) — omitting the multiAssigned flag on an R=3
      // index must still dedup, not seat one neighbor at several ranks
      val servedDefaultFlag = rows(
        Similarity.ivfTopKIndexed(emb, "vec_id", "embedding", pred,
          spark.read.parquet(path), k = 5, nCentroids = 40, nProbe = 6,
          codebook = Some(cb)))
      assert(servedDefaultFlag == inline, s"multiAssigned must derive from the index stamp at R=$r")
      // probing with the wrong codebook family must fail loudly
      val e = intercept[IllegalArgumentException] {
        Similarity
          .ivfTopKIndexed(emb, "vec_id", "embedding", pred,
            spark.read.parquet(path), k = 5, nCentroids = 40, nProbe = 6,
            codebook = None, multiAssigned = r > 1)
          .collect()
      }
      assert(e.getMessage.contains("geometry mismatch"))
      // the reverse disagreement: an explicit multiAssigned=true
      // against a replicas=1 stamp must throw, not silently become a
      // no-op (the stamp can't know about externally-added assignments)
      if (r == 1) {
        val e2 = intercept[IllegalArgumentException] {
          Similarity
            .ivfTopKIndexed(emb, "vec_id", "embedding", pred,
              spark.read.parquet(path), k = 5, nCentroids = 40, nProbe = 6,
              codebook = Some(cb), multiAssigned = true)
            .collect()
        }
        assert(e2.getMessage.contains("replicas=1"))
      }
    }
  }

  test("fitCentroids: deterministic unit-norm codebook; fitted + multi-assignment lift IVF recall") {
    import spark.implicits._
    val vecs = Similarity.hyperplanes(300, 64, seed = 3L)
    val emb = vecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(_.toFloat).toSeq) }
      .toSeq
      .toDF("vec_id", "embedding")
    // k = 40 > 32 exercises the HOF-over-literal-matrix assignment plan
    val cb = Similarity.fitCentroids(emb, "vec_id", "embedding", k = 40, iters = 5, sampleN = 300)
    val cb2 = Similarity.fitCentroids(emb, "vec_id", "embedding", k = 40, iters = 5, sampleN = 300)
    assert(cb.length == 40 && cb.forall(_.length == 64))
    assert(cb.forall(c => math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9), "unit norm")
    assert(
      cb.zip(cb2).forall { case (a, b) => a.sameElements(b) },
      "fit is deterministic for a fixed corpus"
    )
    // layout independence: the same corpus under a different physical
    // partitioning must fit the IDENTICAL codebook (the driver sample
    // is sorted by id before accumulation)
    val cbRelaid =
      Similarity.fitCentroids(emb.repartition(7), "vec_id", "embedding",
        k = 40, iters = 5, sampleN = 300)
    assert(
      cb.zip(cbRelaid).forall { case (a, b) => a.sameElements(b) },
      "fit is deterministic regardless of file/partition layout"
    )
    val pred = col("vec_id") % 40 === 0
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("neighbor_id"))))
      .toSet
    val exact = pairs(Similarity.cosineTopK(emb, "vec_id", "embedding", pred, k = 5))
    def recallOf(r: Int) = {
      val got = pairs(
        Similarity.ivfTopK(emb, "vec_id", "embedding", pred, k = 5,
          nCentroids = 40, nProbe = 4, codebook = Some(cb), corpusReplicas = r))
      (exact intersect got).size.toDouble / exact.size
    }
    val r1 = recallOf(1)
    val r3 = recallOf(3)
    assert(r3 >= r1, s"multi-assignment never lowers recall: R=1 $r1 vs R=3 $r3")
    // R=3 must not emit a (query, neighbor) twice even when the pair
    // meets in several probed lists
    val multi = Similarity
      .ivfTopK(emb, "vec_id", "embedding", pred, k = 5,
        nCentroids = 40, nProbe = 4, codebook = Some(cb), corpusReplicas = 3)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(multi.length == multi.distinct.length, "no duplicate pairs under multi-assignment")
    // PQ path accepts the same fitted codebook + replicas and stays dup-free
    val pq = graft.ml.ProductQuantize
      .ivfPqTopK(emb, "vec_id", "embedding", pred, kNN = 5,
        nCentroids = 40, nProbe = 4, coarseCodebook = Some(cb), corpusReplicas = 3)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pq.length == pq.distinct.length, "no duplicate PQ pairs under multi-assignment")
  }

  test("semDedup family: explicit codebook equal to the deterministic family is a no-op") {
    import spark.implicits._
    val emb = Similarity
      .hyperplanes(120, 64, seed = 9L)
      .zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(_.toFloat).toSeq) }
      .toSeq
      .toDF("vec_id", "embedding")
    val family = Similarity.normalizedCentroids(16, 64, 7L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(
      rows(Dedup.semDedup(emb, "vec_id", "embedding", 0.42, codebook = Some(family))) ==
        rows(Dedup.semDedup(emb, "vec_id", "embedding", 0.42)),
      "Some(deterministic family) == None default — the codebook seam changes nothing else"
    )
  }

  test("SQ8 quantization preserves exact-ANN recall (dequantized top-k vs float top-k)") {
    // the storage-format composition story: search over int8-dequantized
    // vectors must agree with search over the original floats — SQ8's
    // ~0.4% per-component error shouldn't reorder non-degenerate top-k
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // dequantize with the exact Quantize.int8 arithmetic (scale = max|x|/127)
    val deq = emb.select(
      col("vec_id"),
      expr(
        """transform(
          |  transform(embedding, x -> CAST(x AS DOUBLE)),
          |  x -> CASE WHEN array_max(transform(embedding, e -> abs(CAST(e AS DOUBLE)))) = 0.0 THEN 0.0
          |            ELSE floor(x / (array_max(transform(embedding, e -> abs(CAST(e AS DOUBLE)))) / 127.0) + 0.5)
          |                 * (array_max(transform(embedding, e -> abs(CAST(e AS DOUBLE)))) / 127.0) END)""".stripMargin
      ).as("embedding")
    )
    val pred = col("vec_id") % 100 === 0
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("neighbor_id"))))
      .toSet
    val exact = pairs(Similarity.cosineTopK(emb, "vec_id", "embedding", pred, k = 5))
    val quant = pairs(Similarity.cosineTopK(deq, "vec_id", "embedding", pred, k = 5))
    val recall = (exact intersect quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"SQ8 must not disturb top-k materially, got $recall")
  }

  test("native vec_dot is bit-identical to the interpreted HOF dot") {
    import spark.implicits._
    val vecs = Similarity.hyperplanes(50, 64, seed = 99L)
    val df = vecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }
      .toSeq
      .toDF("id", "v")
      .withColumn("w", expr("reverse(v)"))
    val mismatches = df
      .withColumn("hof", aggregate(zip_with(col("v"), col("w"), (p, q) => p * q), lit(0.0), (a, x) => a + x))
      .withColumn("native", graft.functions.VectorOps.dot(col("v"), col("w")))
      .filter(col("hof") =!= col("native")) // exact double equality
      .count()
    assert(mismatches == 0)
  }

  test("Multimodal.frameSample slices every Nth frame, keeps partial tail; resizeStub fixes size") {
    import spark.implicits._
    val payload = (0 until 40).map(_.toByte).toArray // 2.5 frames of 16
    val df = Seq((1L, payload)).toDF("doc_id", "media")
    val frames = Multimodal
      .frameSample(df, "doc_id", "media", frameBytes = 16, everyNth = 2)
      .orderBy("frame_no")
      .collect()
      .map(r => r.getInt(1) -> r.getAs[Array[Byte]](2))
    assert(frames.map(_._1).toSeq == Seq(0, 2), "frames 0 and 2 sampled, frame 1 skipped")
    assert(frames(0)._2.toSeq == (0 until 16).map(_.toByte))
    assert(frames(1)._2.toSeq == (32 until 40).map(_.toByte), "partial tail kept")
    val resized = Multimodal
      .resizeStub(df, "doc_id", "media", targetBytes = 8)
      .head().getAs[Array[Byte]](1)
    assert(resized.toSeq == (0 until 8).map(_.toByte))
    val padded = Multimodal
      .resizeStub(df, "doc_id", "media", targetBytes = 48)
      .head().getAs[Array[Byte]](1)
    assert(padded.length == 48 && padded(47) == 0, "zero-padded to target")
  }

  test("Multimodal.extractFeatures computes real byte-level features") {
    import spark.implicits._
    val df = Seq((1L, "abc"), (2L, "")).toDF("doc_id", "text")
      .withColumn("media", col("text").cast("binary"))
    val out = Multimodal
      .extractFeatures(df, "doc_id", "media")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2))))
      .toMap
    assert(out(1L) == ((3L, 'a'.toInt)))
    assert(out(2L) == ((0L, -1)))
  }

  test("TextStats.piiScan: counts and typed redaction tags") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail bob.smith+x@sub.example.org and carol@ex.co thanks"),
      (2L, "server at 192.168.0.1 and backup 10.0.255.3"),
      (3L, "call 555-867-5309 or 555-123-4567 today"),
      (4L, "no pii here, just 1.2 version and a@b (not an email)"),
      (5L, "mixed x@y.io from 8.8.8.8 dial 555-000-1111")
    ).toDF("doc_id", "text")
    val out = TextStats
      .piiScan(df, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))))
      .toMap
    assert(out(1L)._1 == 2 && out(1L)._4 == "mail [EMAIL] and [EMAIL] thanks")
    assert(out(2L)._2 == 2 && out(2L)._4 == "server at [IP] and backup [IP]")
    assert(out(3L)._3 == 2 && out(3L)._4 == "call [PHONE] or [PHONE] today")
    assert(out(4L) == ((0, 0, 0, "no pii here, just 1.2 version and a@b (not an email)")))
    assert(out(5L) == ((1, 1, 1, "mixed [EMAIL] from [IP] dial [PHONE]")))
  }

  test("Dedup.semDedup: within-cluster near-dups drop the higher id, across-cluster don't") {
    // two orthogonal directions -> two clusters under any codebook;
    // vectors 1/2 are nearly parallel (cos ~ 1), 3 is distinct in the
    // same direction-1 halfspace is NOT a dup at 0.99; 4 lives alone.
    def vec(primary: Int, eps: Double): Array[Float] = {
      val v = Array.fill(64)(0.0)
      v(primary) = 1.0
      v((primary + 1) % 64) = eps
      v.map(_.toFloat)
    }
    import spark.implicits._
    val df = Seq(
      (1L, vec(0, 0.0)),
      (2L, vec(0, 0.01)), // cos vs 1 ~ 0.99995 -> dup of 1
      (3L, vec(0, 0.9)),  // cos vs 1 ~ 0.74 -> kept
      (4L, vec(32, 0.0))
    ).toDF("vec_id", "embedding")
    val out = Dedup
      .semDedup(df, "vec_id", "embedding", threshold = 0.99)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2))))
      .toMap
    assert(out.size == 4)
    assert(out(1L)._1 == out(2L)._1, "near-parallel twins share the argmax centroid")
    assert(out(1L)._2 && !out(2L)._2, "2 is the higher-id near-parallel twin of 1")
    assert(out(3L)._2, "cos ~0.74 below 0.99 threshold")
    assert(out(4L)._2, "singleton cluster member")
  }

  test("SemDeDup screen: incoming flagged only against corpus members") {
    import spark.implicits._
    def vec(primary: Int, eps: Double): Array[Float] = {
      val v = Array.fill(64)(0.0)
      v(primary) = 1.0
      v((primary + 1) % 64) = eps
      v.map(_.toFloat)
    }
    // corpus: 1 (dir 0), 2 (dir 32); incoming: 10 (twin of 1),
    // 11 (dir 16, no corpus twin), 12 (twin of 11 — incoming-incoming
    // pairs are NOT flagged by the incremental pass)
    val df = Seq(
      (1L, vec(0, 0.0)),
      (2L, vec(32, 0.0)),
      (10L, vec(0, 0.01)),
      (11L, vec(16, 0.0)),
      (12L, vec(16, 0.01))
    ).toDF("vec_id", "embedding")
    val incoming = col("vec_id") >= 10
    val idx = Dedup.buildClusterIndex(df.filter(!incoming), "vec_id", "embedding")
    val out = Dedup
      .semDedupScreen(df.filter(incoming), "vec_id", "embedding", idx, threshold = 0.99)
      .collect()
      .map(r => r.getLong(0) -> r.getBoolean(2))
      .toMap
    assert(out.keySet == Set(10L, 11L, 12L), "every incoming row surfaces, corpus rows don't")
    assert(out(10L), "twin of a corpus vector is flagged")
    assert(!out(11L) && !out(12L), "incoming-incoming twins are left to the batch pass")
  }

  test("UrlFilter: host extraction, registered domain, blocklist flags") {
    import spark.implicits._
    val df = Seq(
      (1L, "read https://www.news.example/a/1 daily"),
      (2L, "spam at http://tracker.spam.example/pixel now"),
      (3L, "bare host https://localhost/admin page"),
      (4L, "no url at all in this document")
    ).toDF("doc_id", "text")
    val bl = Seq("spam.example").toDF("domain")
    val out = UrlFilter
      .filterByBlocklist(df, "doc_id", "text", bl)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2))))
      .toMap
    assert(out(1L) == (("news.example", true)))
    assert(out(2L) == (("spam.example", false)), "subdomain reduces to blocked registered domain")
    assert(out(3L) == (("localhost", true)), "single-label host passes through unchanged")
    assert(out(4L) == (("", true)), "no URL -> empty domain, kept")
  }

  test("UrlFilter: a repeated blocklist entry flags each doc once — no row fan-out") {
    import spark.implicits._
    val df = Seq((1L, "spam at http://tracker.spam.example/pixel now")).toDF("doc_id", "text")
    val bl = Seq("spam.example", "spam.example", "spam.example").toDF("domain")
    val rows = UrlFilter.filterByBlocklist(df, "doc_id", "text", bl).collect()
    assert(rows.length == 1 && !rows(0).getBoolean(2), rows.mkString("; "))
  }

  test("generated constant families are prefix-stable in their count parameter " +
    "(the assumption the dynamic-geometry oracles slice literals on)") {
    // the scaled twins' oracles inline hyperplanes(32)/normalizedCentroids(64)
    // and slice to the count the rule derives — element (i,j) must not
    // depend on how many rows were asked for, at any seed
    for (seed <- Seq(7L, 42L, 11L)) {
      val full = Similarity.hyperplanes(32, 64, seed)
      for (k <- Seq(8, 9, 12, 23, 31)) {
        val pre = Similarity.hyperplanes(k, 64, seed)
        assert((0 until k).forall(i => pre(i).sameElements(full(i))), s"planes k=$k seed=$seed")
      }
      val fullC = Similarity.normalizedCentroids(64, 64, seed)
      for (k <- Seq(16, 23, 45, 63)) {
        val pre = Similarity.normalizedCentroids(k, 64, seed)
        assert((0 until k).forall(i => pre(i).sameElements(fullC(i))), s"centroids k=$k seed=$seed")
      }
    }
  }

  test("rulePlanes bit-length form equals mathematical ceil(log2 n), powers of two included") {
    def mathCeilLog2(n: Long): Int = {
      var p = 0; var v = 1L
      while (v < n) { v *= 2; p += 1 }
      p
    }
    for (n <- Seq(2L, 3L, 255L, 256L, 257L, 500L, 1023L, 1024L, 1025L, 1L << 20, (1L << 20) + 1))
      assert(Similarity.rulePlanes(n) == math.max(8, mathCeilLog2(n)), s"n=$n")
  }
}
