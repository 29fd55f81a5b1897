package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.ml.{Bm25, BpeTrain, HashedClassifier, TextStats}
import graft.tables.TestTables

/** Tokenizer-training, retrieval and model-based filtering operators —
  * the three pipeline stages that sit between corpus cleaning and
  * training-mixture assembly: learn the tokenizer (BPE merges), probe
  * the corpus (BM25 inverted-index retrieval), and model-score every
  * document (fastText-style hashed linear classifier).
  *
  * All four rows are hash-checked against DuckDB with zero float
  * tolerance: BPE is pure integer/string arithmetic; BM25 floors
  * per-term scores into integer micro-units before the order-
  * sensitive sum; the classifier's weights are integer micro-units by
  * construction.
  */
object TokenizerQueries {

  import TextMlQueries.tokCte

  /** Merge rounds learned by q_bpe_train / reused by q_bpe_encode.
    * Small enough that the unrolled oracle chain stays readable,
    * large enough that multi-character symbols appear and re-merge.
    */
  val BpeMerges = 8

  // ---- BPE tokenizer training --------------------------------------

  /** Top-[[BpeMerges]] BPE merges over the corpus word dict:
    * (merge_rank, left_sym, right_sym, pair_count) in learned order.
    */
  private def bpeTrain(s: SparkSession, d: String): DataFrame =
    BpeTrain
      .merges(s, TestTables.documents(s, d), "text", BpeMerges)
      .orderBy(col("merge_rank"))

  /** One unrolled merge round: pair-count the current dict, argmax
    * with (count DESC, left, right) tie-break, fold the winning pair
    * into every word. `list_reduce`'s seed is the first singleton —
    * equivalent to Spark's empty-seed fold in
    * [[graft.ml.BpeTrain.applyMerge]].
    */
  private def bpeRoundSql(k: Int): String = {
    val prev = s"w${k - 1}"
    s"""p$k AS (
       |  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i FROM $prev)
       |  GROUP BY 1, 2
       |), b$k AS (
       |  SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1
       |), w$k AS (
       |  SELECT word, freq,
       |         list_reduce(
       |           list_transform(syms, x -> [x]),
       |           (acc, x) -> CASE
       |             WHEN len(acc) > 0 AND acc[-1] = b$k.a AND x[1] = b$k.b
       |             THEN list_append(acc[1:len(acc) - 1], b$k.a || b$k.b)
       |             ELSE list_append(acc, x[1]) END) AS syms
       |  FROM $prev CROSS JOIN b$k
       |)""".stripMargin
  }

  /** Shared CTE chain `w0 .. w{n}` + `b1 .. b{n}`. */
  private def bpeChainSql(n: Int): String = {
    val dict =
      s"""w0 AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         |         list_append(string_split(word, ''), '${BpeTrain.EndOfWord}') AS syms
         |  FROM (SELECT unnest(toks) AS word FROM tok)
         |  GROUP BY word
         |)""".stripMargin
    (dict +: (1 to n).map(bpeRoundSql)).mkString(",\n")
  }

  private lazy val bpeTrainSql = {
    val rows = (1 to BpeMerges)
      .map(k =>
        s"SELECT $k AS merge_rank, a AS left_sym, b AS right_sym, cnt AS pair_count FROM b$k"
      )
      .mkString("\n  UNION ALL ")
    s"""WITH $tokCte,
       |${bpeChainSql(BpeMerges)}
       |SELECT * FROM (
       |  $rows
       |) ORDER BY merge_rank""".stripMargin
  }

  // ---- BPE encoding (trained tokenizer applied to the corpus) ------

  /** Encode every document with the learned merges VIA DICT LOOKUP —
    * the scale shape real tokenizers use: segment each distinct word
    * once (the dict after K merges IS the segmentation cache), then
    * join it onto the corpus tokens. Per doc: token count, post-merge
    * symbol count, and an order-sensitive checksum of the full symbol
    * stream proving exact segmentation parity.
    */
  private def bpeEncode(s: SparkSession, d: String): DataFrame = {
    val docs = TestTables.documents(s, d)
    val (_, dict) = BpeTrain.learnMerges(docs, "text", BpeMerges)
    val dt = docs
      .select(col("doc_id"), posexplode(TextStats.tokens(col("text"))).as(Seq("pos", "word")))
    dt.join(dict.withColumnRenamed("word", "w"), col("word") === col("w"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_toks"),
        sum(size(col("syms"))).as("n_syms"),
        PortableHash
          .md5num56(
            array_join(
              transform(
                array_sort(collect_list(struct(col("pos"), array_join(col("syms"), " ").as("sj")))),
                x => x.getField("sj")
              ),
              " "
            )
          )
          .as("enc_checksum")
      )
      .orderBy(col("doc_id"))
  }

  private lazy val bpeEncodeSql =
    s"""WITH $tokCte,
       |${bpeChainSql(BpeMerges)},
       |doctok AS (
       |  SELECT doc_id, i AS pos, toks[i] AS word
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM tok)
       |), enc AS (
       |  SELECT d.doc_id, d.pos, w$BpeMerges.syms
       |  FROM doctok d JOIN w$BpeMerges ON w$BpeMerges.word = d.word
       |)
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_toks,
       |       CAST(sum(len(syms)) AS BIGINT) AS n_syms,
       |       ${PortableHash.md5num56Sql(
          "string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos)"
        )} AS enc_checksum
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- BM25 ranked retrieval ---------------------------------------

  /** Query workload derived deterministically from the corpus itself:
    * the 6 highest-df terms (df >= [[QueryMinDf]], tie-break on term)
    * paired off into 3 two-term queries.
    */
  val QueryMinDf = 8
  val QueryTerms = 6
  val TopK = 10

  private def bm25Search(s: SparkSession, d: String): DataFrame = {
    val docs = TestTables.documents(s, d)
    val post = Bm25.postings(docs, "doc_id", "text")
    val stats = post
      .select(col("doc_id"), col("dl"))
      .distinct()
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val dfTab = post.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val qt = dfTab
      .filter(col("df") >= QueryMinDf)
      .withColumn("rn", row_number().over(Window.orderBy(col("df").desc, col("tok"))))
      .filter(col("rn") <= QueryTerms)
      .select(floor((col("rn") + 1) / 2).cast("long").as("qid"), col("tok"), col("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val scored = post
      .join(broadcast(qt), Seq("tok"))
      .crossJoin(broadcast(stats))
      .withColumn(
        "micro",
        Bm25.scoreMicro(col("tf"), col("df"), col("dl"), col("n_docs"), avgdl)
      )
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("micro")).as("score_micro"))
    scored
      .withColumn(
        "rk",
        row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("score_micro").desc, col("doc_id"))
        )
      )
      .filter(col("rk") <= TopK)
      .select(col("qid"), col("rk"), col("doc_id"), col("n_hit"), col("score_micro"))
      .orderBy(col("qid"), col("rk"))
  }

  /** The score expression mirrors [[graft.ml.Bm25.scoreMicro]]'s op
    * tree token for token — every constant is binary-exact, every
    * intermediate has exactly one IEEE rounding on both engines.
    */
  private lazy val bm25SearchSql =
    s"""WITH $tokCte,
       |dlt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok),
       |post AS (
       |  SELECT t.doc_id, dlt.dl, t.tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tok) t
       |  JOIN dlt ON dlt.doc_id = t.doc_id
       |  GROUP BY 1, 2, 3
       |), stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
       |  FROM dlt WHERE dl >= 1
       |), dfb AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1
       |), qt AS (
       |  SELECT CAST(floor((rn + 1) / 2) AS BIGINT) AS qid, tok, df
       |  FROM (SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok) AS rn
       |        FROM dfb WHERE df >= $QueryMinDf)
       |  WHERE rn <= $QueryTerms
       |), sc AS (
       |  SELECT qt.qid, post.doc_id,
       |         CAST(count(*) AS BIGINT) AS n_hit,
       |         CAST(sum(CAST(floor(
       |           (((stats.n_docs::DOUBLE - qt.df::DOUBLE) + 0.5) / (qt.df::DOUBLE + 0.5))
       |           * ((post.tf::DOUBLE * 2.25)
       |              / (post.tf::DOUBLE
       |                 + 1.25 * (0.25 + (0.75 * post.dl::DOUBLE)
       |                                  / (stats.sum_dl::DOUBLE / stats.n_docs::DOUBLE))))
       |           * 1000000.0) AS BIGINT)) AS BIGINT) AS score_micro
       |  FROM post JOIN qt ON qt.tok = post.tok CROSS JOIN stats
       |  GROUP BY 1, 2
       |)
       |SELECT qid, rk, doc_id, n_hit, score_micro
       |FROM (SELECT qid, doc_id, n_hit, score_micro,
       |             row_number() OVER (
       |               PARTITION BY qid ORDER BY score_micro DESC, doc_id) AS rk
       |      FROM sc)
       |WHERE rk <= $TopK
       |ORDER BY qid, rk""".stripMargin

  // ---- hashed linear classifier scoring ----------------------------

  private def classifierScore(s: SparkSession, d: String): DataFrame =
    HashedClassifier
      .score(TestTables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))

  private lazy val classifierScoreSql =
    s"""WITH $tokCte,
       |f AS (
       |  SELECT doc_id,
       |         list_concat(
       |           toks,
       |           CASE WHEN len(toks) >= 2
       |                THEN list_transform(range(1, len(toks)),
       |                                    i -> toks[i] || ' ' || toks[i + 1])
       |                ELSE [] END) AS feats
       |  FROM tok
       |), w AS (
       |  SELECT doc_id, feats,
       |         list_transform(feats, g ->
       |           (((${PortableHash.md5num28Sql("g")} % 4096)
       |             * 1103515245 + 12345) % 2001) - 1000) AS ws
       |  FROM f
       |)
       |SELECT doc_id,
       |       CAST(len(feats) AS BIGINT) AS n_feat,
       |       CAST(coalesce(list_sum(ws), 0) AS BIGINT) AS logit_micro,
       |       CAST(coalesce(list_sum(ws), 0) AS BIGINT) > 0 AS label
       |FROM w ORDER BY doc_id""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_bpe_train", bpeTrain, Some(bpeTrainSql)),
    QueryDef("q_bpe_encode", bpeEncode, Some(bpeEncodeSql)),
    QueryDef("q_bm25_search", bm25Search, Some(bm25SearchSql)),
    QueryDef("q_classifier_score", classifierScore, Some(classifierScoreSql))
  )
}
