package graft.queries

import graft.{Q, Tables}
import graft.operators.{Ranks, TextOps}
import graft.functions.GraftFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis + multimodal-plumbing operators for the training-data
  * pipeline: language-ID heuristic, quality scoring, token counting,
  * document fingerprinting, binary-column metadata extraction.
  */
object TextQueries {

  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to"),
    "es" -> Seq("el", "la", "de", "y"),
    "de" -> Seq("der", "und", "die", "das"),
    "fr" -> Seq("le", "la", "et", "les"))

  /** Shared DuckDB oracle for the KMV sketch contract — referenced by
    * BOTH the batch row (q_kmv_native) and the streaming parity row
    * (st_stream_kmv_parity, DedupQueries), so an edit to the hash
    * width / k / tie-break / estimator cannot drift one-sided
    * (round-9 review finding).
    */
  private[queries] val kmvOracleSql: String =
    """WITH h AS (SELECT DISTINCT event_type, user_id,
      |    list_reduce(list_transform(range(1, 8),
      |      i -> CAST(strpos('0123456789abcdef',
      |             substr(md5(event_type || ':' || CAST(user_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
      |      (a, x) -> a * 16 + x) AS hv
      |  FROM events),
      |r AS (SELECT event_type, hv,
      |    row_number() OVER (PARTITION BY event_type ORDER BY hv, user_id) AS rn
      |  FROM h),
      |s AS (SELECT event_type, count(*) AS k, max(hv) AS hk,
      |    CAST(SUM(hv) AS BIGINT) AS sketch_sum
      |  FROM r WHERE rn <= 128 GROUP BY event_type)
      |SELECT event_type, k, hk, sketch_sum,
      |  (k - 1) * 268435456 // hk AS est
      |FROM s""".stripMargin

  /** Shared quality-classifier feature CTE (label + 3 features) —
    * referenced by tx_quality_train and tx_quality_auc so the trained
    * and evaluated models can never drift apart (round-9 review).
    */
  private[queries] val qualityFeaturesSql: String =
    """f AS (SELECT doc_id,
      |    CASE WHEN source IN ('src0','src1','src2','src3','src4')
      |         THEN 1 ELSE 0 END AS y,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS x1,
      |    length(text) - length(replace(text, ',', '')) AS x2,
      |    len(list_filter(string_split(text, ' '),
      |        t -> t <> '' AND length(t) > 6)) AS x3
      |  FROM documents)""".stripMargin

  /** DuckDB replay of the synthetic-image aHash chain (deterministic
    * pixel synthesis, luma, mean-threshold bits, hex assembly, 4-band
    * split with 32-bit halves) up to the `bands` CTE — ONE copy shared
    * by mm_ahash_pairs and mm_ahash_clusters (round-12 review; the
    * DedupQueries.lshBandsBody drift-prevention pattern).
    */
  private val ahashBandsBody: String =
    """px AS (SELECT doc_id, i,
      |    ((CASE WHEN doc_id % 10 = 1 THEN doc_id - 1 ELSE doc_id END % 256)
      |      * (i + 1) * 2654435761
      |      + (CASE WHEN doc_id % 10 = 1 THEN doc_id - 1 ELSE doc_id END % 65536)
      |        // 256 * (i + 3) * (i + 5) * 12289
      |      + i * 40503) % 256 AS vb
      |  FROM documents CROSS JOIN (SELECT unnest(range(0, 64)) AS i)),
      |pv AS (SELECT doc_id, i,
      |    CAST(CASE WHEN doc_id % 10 = 1 AND i = doc_id % 64
      |         THEN (vb + 96) % 256 ELSE vb END AS DOUBLE) AS v
      |  FROM px),
      |lm AS (SELECT doc_id, i, 0.299 * v + 0.587 * v + 0.114 * v AS lum FROM pv),
      |mn AS (SELECT doc_id, list_sum(list(lum ORDER BY i)) / 64 AS mean
      |  FROM lm GROUP BY doc_id),
      |bits AS (SELECT l.doc_id, l.i AS j,
      |    CASE WHEN l.lum >= m.mean THEN 1 ELSE 0 END AS bit
      |  FROM lm l JOIN mn m ON l.doc_id = m.doc_id),
      |ch AS (SELECT doc_id, 16 - j // 4 AS pos,
      |    SUM(bit << CAST(j % 4 AS INT)) AS cv
      |  FROM bits GROUP BY doc_id, 16 - j // 4),
      |sh AS (SELECT doc_id,
      |    string_agg(substr('0123456789ABCDEF', CAST(cv AS INT) + 1, 1), '' ORDER BY pos) AS h
      |  FROM ch GROUP BY doc_id),
      |halves AS (SELECT doc_id, h,
      |    list_reduce(list_transform(range(1, 9),
      |      i -> CAST(strpos('0123456789ABCDEF', substr(h, CAST(i AS INT), 1)) - 1 AS BIGINT)),
      |      (a, x) -> a * 16 + x) AS hi,
      |    list_reduce(list_transform(range(9, 17),
      |      i -> CAST(strpos('0123456789ABCDEF', substr(h, CAST(i AS INT), 1)) - 1 AS BIGINT)),
      |      (a, x) -> a * 16 + x) AS lo
      |  FROM sh),
      |bands AS (SELECT doc_id, band, substr(h, 1 + band * 4, 4) AS bh, hi, lo
      |  FROM halves CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bs)""".stripMargin

  /** DuckDB replay of the unigram mean-probability score (tx_lm_score's
    * n_tokens/mean_p per doc) up to the `sc` CTE — ONE copy shared by
    * tx_lm_score and tx_ppx_bucket (round-12 review; the
    * DedupQueries.lshBandsBody drift-prevention pattern).
    */
  private val meanPBody: String =
    """t AS (SELECT doc_id,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM documents),
      |df AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
      |tot AS (SELECT count(*) AS n FROM t),
      |sc AS (SELECT t.doc_id, count(*) AS n_tokens,
      |    CAST(SUM(df.cnt) AS DOUBLE) / (count(*) * max(tot.n)) AS mean_p
      |  FROM t JOIN df USING (term) CROSS JOIN tot GROUP BY t.doc_id)""".stripMargin

  /** DuckDB replay of the DSIR 256-bucket token hash (`b`) and the
    * add-1-smoothed log-importance weight table (`tot`/`lr`) — the
    * formula-bearing fragments shared by tx_dsir_select and
    * tx_dsir_incremental (round-12 review; their `tok`/`cnts` CTEs
    * legitimately differ on the incoming-batch split, so only the
    * drift-sensitive kernel text is shared).
    */
  private def dsirBucketsBody(cols: String): String =
    s"""b AS (
       |  SELECT $cols,
       |    (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16 +
       |    (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) AS bkt
       |  FROM tok)""".stripMargin

  private val dsirLrBody: String =
    """tot AS (SELECT SUM(cr) AS r, SUM(ct) AS t FROM cnts),
      |lr AS (
      |  SELECT bkt, round(ln(CAST(ct + 1 AS DOUBLE) * CAST(r + 256 AS DOUBLE)
      |                       / (CAST(cr + 1 AS DOUBLE) * CAST(t + 256 AS DOUBLE))), 6) AS lw
      |  FROM cnts, tot)""".stripMargin

  /** The language-ID scoring projection and argmax — shared text between
    * tx_langid and tx_lang_confusion (round-12 review: the evaluation
    * row must score with EXACTLY the classifier it audits).
    */
  private val langidScoresSql: String = profiles.map { case (l, ws) =>
    val set = ws.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(list_filter(string_split(text, ' '), t -> t <> ''), t -> t IN ($set))) AS s_$l"
  }.mkString(",\n  ")

  private val langidArgmaxSql: String =
    """CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
      |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
      |       WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END""".stripMargin

  def defs: Seq[Q] = Seq(

    // n-gram/stopword language-ID heuristic: per-language stopword hit
    // counts, argmax with a fixed tie order.
    Q("tx_langid",
      s"""WITH t AS (SELECT doc_id, $langidScoresSql FROM documents)
         |SELECT doc_id, s_en, s_es, s_de, s_fr,
         |  $langidArgmaxSql AS pred_lang
         |FROM t""".stripMargin) { (s, dir) =>
      // Native count_in_set: the filter(..., isin) lambda rendering is
      // CodegenFallback and evicted this per-document projection from
      // whole-stage codegen.
      val toks = TextOps.tokens(col("text"))
      val withScores = profiles.foldLeft(Tables.load(s, dir, "documents")) {
        case (df, (l, ws)) =>
          df.withColumn(s"s_$l",
            GraftFunctions.count_in_set(toks, array(ws.map(lit): _*)))
      }
      withScores.select(
        col("doc_id"), col("s_en"), col("s_es"), col("s_de"), col("s_fr"),
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr").as("pred_lang"))
    },

    // Language-ID EVALUATION: confusion matrix of the tx_langid
    // heuristic against the corpus's true lang labels, with per-truth
    // row shares in integer ppm — the accuracy audit any classifier
    // stage ships with. On THIS fixture the matrix collapses to the
    // 'en' column (the synthetic text draws from an English-like
    // vocabulary for every lang label), which is precisely what the
    // audit exists to expose: the heuristic's score margins, not the
    // labels, drive the prediction. Same row-local
    // scoring projection as tx_langid; the matrix itself is a bounded
    // (5x4) aggregate plus a broadcast of per-lang totals.
    Q("tx_lang_confusion",
      s"""WITH t AS (SELECT doc_id, lang, $langidScoresSql FROM documents),
         |p AS (SELECT lang,
         |  $langidArgmaxSql AS pred_lang
         |  FROM t),
         |c AS (SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY lang)
         |SELECT c.lang, c.pred_lang, c.n, c.n * 1000000 // tot.tot AS share_ppm,
         |  CAST(c.lang = c.pred_lang AS INT) AS is_correct
         |FROM c JOIN tot ON c.lang = tot.lang""".stripMargin) { (s, dir) =>
      val toks = TextOps.tokens(col("text"))
      val withScores = profiles.foldLeft(Tables.load(s, dir, "documents")) {
        case (df, (l, ws)) =>
          df.withColumn(s"s_$l",
            GraftFunctions.count_in_set(toks, array(ws.map(lit): _*)))
      }
      val p = withScores.select(col("lang"),
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr").as("pred_lang"))
      val c = p.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      val tot = c.groupBy("lang").agg(sum(col("n")).as("tot"))
      c.join(broadcast(tot), "lang")
        .select(col("lang"), col("pred_lang"), col("n"),
          expr("(n * 1000000) div tot").as("share_ppm"),
          (col("lang") === col("pred_lang")).cast("int").as("is_correct"))
    },

    // Quality scoring: length / token / stopword / whitespace ratios.
    Q("tx_quality",
      """WITH t AS (SELECT doc_id, text, length(text) AS chars,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents)
        |SELECT doc_id, chars, len(w) AS n_tokens,
        |  round(len(list_filter(w, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
        |        * 1.0 / len(w), 6) AS stop_ratio,
        |  round((chars - length(replace(text, ' ', ''))) * 1.0 / chars, 6) AS space_ratio,
        |  round(length(replace(text, ' ', '')) * 1.0 / len(w), 6) AS avg_word_len
        |FROM t""".stripMargin) { (s, dir) =>
      val w = TextOps.tokens(col("text"))
      val chars = length(col("text"))
      val noSpace = length(regexp_replace(col("text"), " ", ""))
      Tables.load(s, dir, "documents")
        .select(
          col("doc_id"), chars.as("chars"), size(w).as("n_tokens"),
          round(GraftFunctions.count_in_set(w,
              array(Seq("the", "a", "of", "and", "to", "in").map(lit): _*))
            .cast("double") / size(w), 6).as("stop_ratio"),
          round((chars - noSpace).cast("double") / chars, 6).as("space_ratio"),
          round(noSpace.cast("double") / size(w), 6).as("avg_word_len"))
    },

    // Composite quality GATE: the keep/drop decision table a filtering
    // pipeline emits (length band + stopword floor + word-length
    // ceiling). Row-local; the thresholds are the policy, the signals
    // come from the same native expressions as tx_quality.
    Q("tx_quality_gate",
      """WITH t AS (SELECT doc_id, length(text) AS chars,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |q AS (SELECT doc_id, chars, len(w) AS n_tokens,
        |    len(list_filter(w, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
        |      * 1.0 / len(w) AS stop_ratio
        |  FROM t WHERE len(w) > 0)
        |SELECT doc_id, n_tokens,
        |  CAST(n_tokens BETWEEN 20 AND 1000 AND stop_ratio >= 0.05
        |       AND chars * 1.0 / n_tokens <= 12 AS INT) AS keep
        |FROM q""".stripMargin) { (s, dir) =>
      val w = TextOps.tokens(col("text"))
      val stopSet = array(Seq("the", "a", "of", "and", "to", "in").map(lit): _*)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("chars"),
          size(w).as("n_tokens"),
          (GraftFunctions.count_in_set(w, stopSet) * lit(1.0) / size(w))
            .as("stop_ratio"))
        .filter(col("n_tokens") > 0)
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens").between(20, 1000) && col("stop_ratio") >= 0.05 &&
            col("chars") * lit(1.0) / col("n_tokens") <= 12)
            .cast("int").as("keep"))
    },

    // TRAIN the quality filter, not just apply one: two exact gradient
    // steps of logistic regression for a document-quality classifier
    // (the CCNet/fastText-style learned filter every corpus pipeline
    // fits), distributed as the real thing is — per-row features and
    // gradients map-side, ONE partial-agg shuffle per step, weights
    // broadcast back. Determinism engineering: lr = 2^-28 (dyadic) and
    // step-1 gradients are integers/2, so the step-1 weights and every
    // per-row logit are EXACT dyadic doubles in both engines; the step-2
    // sigmoid is rounded to 5 dp before the decimal-cast sum (the
    // op_math_funcs libm discipline), so both gradient aggregations are
    // order-independent exact decimals. Labels from `source` membership
    // (independent of the features), features: token count, comma count,
    // long-token count. At 100 TB each step is one scan + one tiny agg;
    // more steps = more passes, the standard full-batch L-BFGS/SGD
    // trade every distributed trainer makes.
    Q("tx_quality_train",
      s"""WITH $qualityFeaturesSql,
        |g AS (SELECT count(*) AS n,
        |    CAST(SUM(CAST((y - 0.5) AS DECIMAL(28,8))) AS DOUBLE) AS g0,
        |    CAST(SUM(CAST(x1 * (y - 0.5) AS DECIMAL(28,8))) AS DOUBLE) AS g1,
        |    CAST(SUM(CAST(x2 * (y - 0.5) AS DECIMAL(28,8))) AS DOUBLE) AS g2,
        |    CAST(SUM(CAST(x3 * (y - 0.5) AS DECIMAL(28,8))) AS DOUBLE) AS g3
        |  FROM f),
        |w1 AS (SELECT n, g0 / 268435456.0 AS w0, g1 / 268435456.0 AS w1,
        |    g2 / 268435456.0 AS w2, g3 / 268435456.0 AS w3 FROM g),
        |s AS (SELECT f.y, f.x1, f.x2, f.x3,
        |    round(1.0 / (1.0 + exp(-(w1.w0 + w1.w1 * f.x1 + w1.w2 * f.x2
        |                             + w1.w3 * f.x3))), 5) AS sg
        |  FROM f, w1),
        |h AS (SELECT
        |    CAST(SUM(CAST((y - sg) AS DECIMAL(28,8))) AS DOUBLE) AS h0,
        |    CAST(SUM(CAST(x1 * (y - sg) AS DECIMAL(28,8))) AS DOUBLE) AS h1,
        |    CAST(SUM(CAST(x2 * (y - sg) AS DECIMAL(28,8))) AS DOUBLE) AS h2,
        |    CAST(SUM(CAST(x3 * (y - sg) AS DECIMAL(28,8))) AS DOUBLE) AS h3
        |  FROM s)
        |SELECT w1.n,
        |  round(w1.w0, 10) AS b0_s1, round(w1.w1, 10) AS b1_s1,
        |  round(w1.w2, 10) AS b2_s1, round(w1.w3, 10) AS b3_s1,
        |  round(w1.w0 + h.h0 / 268435456.0, 10) AS b0_s2,
        |  round(w1.w1 + h.h1 / 268435456.0, 10) AS b1_s2,
        |  round(w1.w2 + h.h2 / 268435456.0, 10) AS b2_s2,
        |  round(w1.w3 + h.h3 / 268435456.0, 10) AS b3_s2
        |FROM w1, h""".stripMargin) { (s, dir) =>
      val lrDen = 268435456.0 // 2^28: lr = 2^-28 keeps every weight dyadic
      val w = TextOps.tokens(col("text"))
      val base = Tables.load(s, dir, "documents").select(
        col("source").isin("src0", "src1", "src2", "src3", "src4")
          .cast("int").as("y"),
        size(w).as("x1"),
        (length(col("text")) - length(expr("replace(text, ',', '')"))).as("x2"),
        size(filter(w, t => length(t) > 6)).as("x3"))
      def dsum(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(28, 8))).cast("double")
      val w1 = base.agg(count(lit(1)).as("n"),
          dsum(col("y") - lit(0.5)).as("g0"),
          dsum(col("x1") * (col("y") - lit(0.5))).as("g1"),
          dsum(col("x2") * (col("y") - lit(0.5))).as("g2"),
          dsum(col("x3") * (col("y") - lit(0.5))).as("g3"))
        .select(col("n"), (col("g0") / lrDen).as("w0"), (col("g1") / lrDen).as("w1"),
          (col("g2") / lrDen).as("w2"), (col("g3") / lrDen).as("w3"))
      val h = base.crossJoin(broadcast(w1))
        .withColumn("sg", round(lit(1.0) / (lit(1.0) +
          exp(-(col("w0") + col("w1") * col("x1") + col("w2") * col("x2")
            + col("w3") * col("x3")))), 5))
        .agg(
          dsum(col("y") - col("sg")).as("h0"),
          dsum(col("x1") * (col("y") - col("sg"))).as("h1"),
          dsum(col("x2") * (col("y") - col("sg"))).as("h2"),
          dsum(col("x3") * (col("y") - col("sg"))).as("h3"))
      w1.crossJoin(broadcast(h)).select(col("n"),
        round(col("w0"), 10).as("b0_s1"), round(col("w1"), 10).as("b1_s1"),
        round(col("w2"), 10).as("b2_s1"), round(col("w3"), 10).as("b3_s1"),
        round(col("w0") + col("h0") / lrDen, 10).as("b0_s2"),
        round(col("w1") + col("h1") / lrDen, 10).as("b1_s2"),
        round(col("w2") + col("h2") / lrDen, 10).as("b2_s2"),
        round(col("w3") + col("h3") / lrDen, 10).as("b3_s2"))
    },

    // EVALUATE the trained quality filter: ROC-AUC of tx_quality_train's
    // step-2 weights on the corpus, via the Mann-Whitney rank-sum with
    // average ranks for ties. Scores are the same deterministic w·x
    // logits (dyadic weights, identical double ops both engines), so
    // ranks replay exactly. Scale shape: the global rank is computed
    // with the SAME two-level trick as pl_epoch_shuffle — scores bucket
    // by floor(score·4096) (order-consistent), a metadata-scale offsets
    // table broadcasts back, and each bucket sorts independently; no
    // single-partition window anywhere. The oracle ranks directly (it
    // doesn't need to scale). One row: n_pos, n_neg, auc.
    Q("tx_quality_auc",
      s"""WITH $qualityFeaturesSql,
        |g AS (SELECT
        |    CAST(SUM(CAST((y - 0.5) AS DECIMAL(28,8))) AS DOUBLE) AS g0,
        |    CAST(SUM(CAST(x1 * (y - 0.5) AS DECIMAL(28,8))) AS DOUBLE) AS g1,
        |    CAST(SUM(CAST(x2 * (y - 0.5) AS DECIMAL(28,8))) AS DOUBLE) AS g2,
        |    CAST(SUM(CAST(x3 * (y - 0.5) AS DECIMAL(28,8))) AS DOUBLE) AS g3
        |  FROM f),
        |w1 AS (SELECT g0 / 268435456.0 AS w0, g1 / 268435456.0 AS w1,
        |    g2 / 268435456.0 AS w2, g3 / 268435456.0 AS w3 FROM g),
        |s2 AS (SELECT f.y, f.x1, f.x2, f.x3,
        |    round(1.0 / (1.0 + exp(-(w1.w0 + w1.w1 * f.x1 + w1.w2 * f.x2
        |                             + w1.w3 * f.x3))), 5) AS sg
        |  FROM f, w1),
        |h AS (SELECT
        |    CAST(SUM(CAST((y - sg) AS DECIMAL(28,8))) AS DOUBLE) AS h0,
        |    CAST(SUM(CAST(x1 * (y - sg) AS DECIMAL(28,8))) AS DOUBLE) AS h1,
        |    CAST(SUM(CAST(x2 * (y - sg) AS DECIMAL(28,8))) AS DOUBLE) AS h2,
        |    CAST(SUM(CAST(x3 * (y - sg) AS DECIMAL(28,8))) AS DOUBLE) AS h3
        |  FROM s2),
        |w2 AS (SELECT w1.w0 + h.h0 / 268435456.0 AS w0,
        |    w1.w1 + h.h1 / 268435456.0 AS w1,
        |    w1.w2 + h.h2 / 268435456.0 AS w2,
        |    w1.w3 + h.h3 / 268435456.0 AS w3 FROM w1, h),
        |sc AS (SELECT f.doc_id, f.y,
        |    w2.w0 + w2.w1 * f.x1 + w2.w2 * f.x2 + w2.w3 * f.x3 AS score
        |  FROM f, w2),
        |rk AS (SELECT y, score,
        |    row_number() OVER (ORDER BY score, doc_id) AS rn FROM sc),
        |byscore AS (SELECT score, min(rn) AS rn0, count(*) AS cnt,
        |    SUM(y) AS npos_g FROM rk GROUP BY score),
        |tot AS (SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
        |    CAST(count(*) - SUM(y) AS BIGINT) AS n_neg FROM rk),
        |u AS (SELECT CAST(SUM(CAST(npos_g * (rn0 + (cnt - 1) / 2.0)
        |                           AS DECIMAL(28,8))) AS DOUBLE) AS rsum
        |  FROM byscore)
        |SELECT tot.n_pos, tot.n_neg,
        |  round((u.rsum - tot.n_pos * (tot.n_pos + 1) / 2.0)
        |        / (tot.n_pos * tot.n_neg), 6) AS auc_r
        |FROM tot, u""".stripMargin) { (s, dir) =>
      val lrDen = 268435456.0
      val w = TextOps.tokens(col("text"))
      // the feature frame feeds the w1 aggregation AND the scoring pass,
      // and the scored frame feeds both the offsets groupBy and the rank
      // join — tracked caches halve the scans (review finding)
      val f = TextOps.trackCache(Tables.load(s, dir, "documents").select(
        col("doc_id"),
        col("source").isin("src0", "src1", "src2", "src3", "src4")
          .cast("int").as("y"),
        size(w).as("x1"),
        (length(col("text")) - length(expr("replace(text, ',', '')"))).as("x2"),
        size(filter(w, t => length(t) > 6)).as("x3")))
      def dsum(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(28, 8))).cast("double")
      val w1 = f.agg(
          dsum(col("y") - lit(0.5)).as("g0"),
          dsum(col("x1") * (col("y") - lit(0.5))).as("g1"),
          dsum(col("x2") * (col("y") - lit(0.5))).as("g2"),
          dsum(col("x3") * (col("y") - lit(0.5))).as("g3"))
        .select((col("g0") / lrDen).as("w0"), (col("g1") / lrDen).as("w1"),
          (col("g2") / lrDen).as("w2"), (col("g3") / lrDen).as("w3"))
      // step 2 (tx_quality_train's shipped b*_s2): the row documents the
      // AUC of the TRAINED model, but it scored the step-1 weights —
      // both dialects identically, so the truncation was hash-green
      // (round-12 review). The second gradient pass mirrors the train
      // row: sigmoid rounded to 5dp (the cross-engine exp() envelope),
      // decimal-exact h sums, dyadic lr.
      val h = f.crossJoin(broadcast(w1))
        .withColumn("sg", round(lit(1.0) / (lit(1.0) +
          exp(-(col("w0") + col("w1") * col("x1") + col("w2") * col("x2")
            + col("w3") * col("x3")))), 5))
        .agg(
          dsum(col("y") - col("sg")).as("h0"),
          dsum(col("x1") * (col("y") - col("sg"))).as("h1"),
          dsum(col("x2") * (col("y") - col("sg"))).as("h2"),
          dsum(col("x3") * (col("y") - col("sg"))).as("h3"))
      val w2 = w1.crossJoin(broadcast(h)).select(
        (col("w0") + col("h0") / lrDen).as("w0"),
        (col("w1") + col("h1") / lrDen).as("w1"),
        (col("w2") + col("h2") / lrDen).as("w2"),
        (col("w3") + col("h3") / lrDen).as("w3"))
      val sc = TextOps.trackCache(f.crossJoin(broadcast(w2))
        .select(col("doc_id"), col("y"),
          (col("w0") + col("w1") * col("x1") + col("w2") * col("x2")
            + col("w3") * col("x3")).as("score"))
        .withColumn("bkt", floor(col("score") * 4096)))
      val rk = graft.operators.Ranks.bucketedRank(sc, Seq.empty, "bkt",
        Seq(col("score"), col("doc_id")), "rn")
      val byscore = rk.groupBy("score")
        .agg(min("rn").as("rn0"), count(lit(1)).as("cnt"),
          sum("y").as("npos_g"))
      val tot = rk.agg(sum("y").cast("long").as("n_pos"),
        (count(lit(1)) - sum("y")).cast("long").as("n_neg"))
      // per-group terms are exact halves; decimal-cast before the sum so
      // the aggregation is order-independent across engines
      val u = byscore.agg(
        sum((col("npos_g") * (col("rn0") + (col("cnt") - 1) / 2.0))
          .cast(DecimalType(28, 8))).cast("double").as("rsum"))
      tot.crossJoin(broadcast(u))
        .select(col("n_pos"), col("n_neg"),
          round((col("rsum") - col("n_pos") * (col("n_pos") + 1) / 2.0)
            / (col("n_pos") * col("n_neg")), 6).as("auc_r"))
    },

    // Token counting: whitespace tokens + a BPE-ish regex token stream.
    Q("tx_tokens",
      """SELECT doc_id,
        |  len(list_filter(string_split(text, ' '), t -> t <> '')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
        |  length(text) AS chars
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(
          col("doc_id"),
          size(TextOps.tokens(col("text"))).as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
            .as("re_tokens"),
          length(col("text")).as("chars"))
    },

    // Document fingerprint: 31-poly rolling hash (native expression;
    // oracle folds the codepoints with list_reduce). The empty-doc guard
    // matters only oracle-side: DuckDB's seedless list_reduce ERRORS on
    // an empty list where the native expression returns the fold
    // identity 0 (round-12 review — latent, the fixture has no empty
    // texts).
    Q("tx_fingerprint",
      """SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT) ELSE
        |  list_reduce(
        |    list_transform(range(1, length(text) + 1),
        |                   i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT)),
        |    (a, b) -> (a * 31 + b) % 1000000007) END AS fp
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), GraftFunctions.rolling_hash(col("text")).as("fp"))
    },

    // Within-document repetition ratio (duplicate-bigram fraction) — the
    // Gopher-style quality signal that catches degenerate/looping text.
    // Row-local projection (native tokens/shingles), scales freely.
    Q("tx_repetition",
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |b AS (SELECT doc_id, len(w) - 1 AS n_bigrams,
        |    len(list_distinct([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]))
        |      AS n_distinct
        |  FROM t WHERE len(w) >= 2)
        |SELECT doc_id, n_bigrams, n_distinct,
        |  round(1.0 - n_distinct * 1.0 / n_bigrams, 6) AS dup_ratio
        |FROM b""".stripMargin) { (s, dir) =>
      // shingles() is DISTINCT by construction, so distinct-bigram count
      // is one native expression; total bigrams = len-1
      Tables.load(s, dir, "documents")
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"),
          (size(col("w")) - 1).as("n_bigrams"),
          size(TextOps.shingles(col("w"), 2)).as("n_distinct"))
        .withColumn("dup_ratio",
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams"), 6))
    },

    // Boilerplate fraction — share of a document's distinct 3-gram
    // shingles that are corpus-common (df >= 5): the C4/CCNet-style
    // signal for template/navigation text that repeats across many pages.
    // Same two-shuffle shape as dd_span_dup (gram-df, then join-back and
    // per-doc agg); the gram-df table is the only wide exchange and it
    // shrinks with the df filter applied before the join at scale.
    Q("tx_boilerplate",
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |g AS (SELECT doc_id,
        |    list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS gs
        |  FROM t WHERE len(w) >= 3),
        |e AS (SELECT doc_id, unnest(gs) AS x FROM g),
        |df AS (SELECT x, count(DISTINCT doc_id) AS df FROM e GROUP BY x)
        |SELECT e.doc_id,
        |  count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN df.df >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
        |  floor(sum(CASE WHEN df.df >= 5 THEN 1 ELSE 0 END) * 1.0 / count(*)
        |        * 1e6 + 0.5) / 1e6 AS boilerplate_frac
        |FROM e JOIN df ON e.x = df.x
        |GROUP BY e.doc_id""".stripMargin) { (s, dir) =>
      val g = Tables.load(s, dir, "documents")
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), TextOps.shingles(col("w"), 3).as("gs"))
      // tracked-cached: the shingle explode feeds BOTH the document-
      // frequency aggregate and the join-back — uncached it tokenized
      // and exploded the corpus twice (round-14 optimization; the
      // spanDupFrames pattern)
      val e = g.select(col("doc_id"), explode(col("gs")).as("x"))
        .transform(TextOps.trackCache)
      // shingles are DISTINCT per doc, so (doc, x) pairs are distinct:
      // per-gram row count == countDistinct(doc_id) — same value without
      // the two-phase distinct-aggregate expansion (round-15, §2.3). The
      // join-back then carries ONLY the df>=5 common grams (the filter
      // the SQL comment promised but the old plan applied after the
      // join), and n_shingles comes from the cached explode directly;
      // docs whose grams are all rare coalesce to 0 exactly as the old
      // sum-of-zeros did.
      val df = e.groupBy("x").agg(count(lit(1)).as("df"))
      val nc = e.join(df.filter(col("df") >= 5).select("x"), "x")
        .groupBy("doc_id").agg(count(lit(1)).as("n_common"))
      e.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
        .join(nc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          (floor(coalesce(col("n_common"), lit(0L)).cast("double")
            / col("n_shingles") * 1e6 + 0.5) / 1e6).as("boilerplate_frac"))
    },

    // Nucleus (top-p) data selection — per language, keep the
    // highest-scoring documents until their cumulative score reaches p of
    // the language's total (the quality-weighted counterpart of top-k:
    // rich languages keep more docs, thin ones keep what crosses the
    // mass). Score = distinct-token count (vocabulary richness), integer
    // throughout, so the cumulative window is exact in both engines. One
    // shuffle on lang for the two windows.
    Q("pl_topp_select",
      """WITH sc AS (SELECT doc_id, lang,
        |    len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS score
        |  FROM documents),
        |w AS (SELECT doc_id, lang, score,
        |    sum(score) OVER (PARTITION BY lang ORDER BY score DESC, doc_id
        |                     ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(score) OVER (PARTITION BY lang) AS tot,
        |    row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rnk
        |  FROM sc)
        |SELECT doc_id, lang, score, rnk
        |FROM w WHERE cum - score < 0.5 * tot""".stripMargin) { (s, dir) =>
      // two-level rank + prefix sum (lang has ~5 values regardless of
      // corpus size — see pl_pack): the bucket is -score, which is
      // order-consistent for the (score DESC, doc_id) window order and
      // has vocabulary-bounded cardinality; lang totals are a 5-row
      // broadcast, never a whole-partition window
      // tracked-cached: the tokenize+distinct projection feeds the
      // offsets aggregate, the main frame, the rank pass and the lang
      // totals — cache once, not four corpus re-tokenizations
      val sc = TextOps.trackCache(Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(array_distinct(TextOps.tokens(col("text")))).cast("long").as("score"))
        .withColumn("__bkt", -col("score")))
      val cum = Ranks.bucketedPrefixSum(sc, Seq("lang"), "__bkt",
        "score", Seq(col("doc_id")), "cum")
      val ranked = Ranks.bucketedRank(cum, Seq("lang"), "__bkt",
        Seq(col("doc_id")), "rnk")
      val tot = sc.groupBy("lang").agg(sum("score").as("tot"))
      ranked.join(broadcast(tot), Seq("lang"))
        .filter(col("cum") - col("score") < lit(0.5) * col("tot"))
        .select(col("doc_id"), col("lang"), col("score"),
          col("rnk").cast("int").as("rnk"))
    },

    // Per-document top-3 salient terms by tf-idf: tf * ln(N/df) — the
    // definition, not a linear surrogate. A linear tf*N/df is NOT
    // rank-equivalent (it over-rewards ultra-rare terms and lets a
    // df=N stopword score tf instead of exactly 0 — round-12 review
    // finding, both engines shared the surrogate hash-green). The idf's
    // ln() rounds to 6dp first (the tx_zipf/tx_bm25/tx_pmi parity rule);
    // tf (exact int) times the rounded idf is a single IEEE multiply,
    // bit-identical across engines.
    // Plan shape at scale: one shuffle to build tf, one for df, then a
    // term-keyed join (the term dictionary outgrows broadcast at corpus
    // scale; Catalyst still broadcasts when small) and a per-doc top-k
    // window.
    Q("tx_tfidf",
      """WITH t AS (SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.term,
        |    tf.tf * round(ln(CAST(n.n AS DOUBLE) / df.df), 6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, score, rn FROM (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |  FROM s) q WHERE rn <= 3""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val terms = docs.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("term"))
      // cache the POST-aggregate tf frame, not the raw term explode
      // (round-15, guide §2.3/§5): tf is distinct per (doc, term), so
      // df = per-term row count OVER tf — count(DISTINCT doc_id) over the
      // raw explode is the same number. One corpus tokenize+explode,
      // and the cached frame is the (doc, term, tf) aggregate instead of
      // a corpus-sized token stream (the round-14 explode cache spilled
      // multiples of the corpus at scale).
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .transform(TextOps.trackCache)
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(df, "term")
        .crossJoin(broadcast(n))
        .withColumn("score",
          col("tf") * round(log(col("n").cast("double") / col("df")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("score"), col("rn"))
    },

    // Corpus-level top-k n-grams (heavy hitters): the contamination /
    // boilerplate analysis query of a training-data pipeline. Two-phase
    // hash agg (map-side partial) then a global top-k — at corpus scale
    // the shuffle carries only per-partition partial counts, and ties
    // break on the gram text for a deterministic ranking.
    Q("tx_topk_ngrams",
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS w FROM documents),
        |bg AS (SELECT doc_id,
        |    [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))] AS g
        |  FROM toks WHERE len(w) >= 2),
        |e AS (SELECT doc_id, unnest(g) AS gram FROM bg),
        |c AS (SELECT gram, count(*) AS n, count(DISTINCT doc_id) AS df FROM e GROUP BY gram)
        |SELECT gram, n, df FROM c ORDER BY n DESC, gram LIMIT 20""".stripMargin) { (s, dir) =>
      val toks = Tables.load(s, dir, "documents")
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(1), size(col("w")) - 1),
            i => concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1))))
            .as("gram"))
      // final ranking through the dispatcher's global entry (round-11
      // task 6): pins the TakeOrderedAndProject rendering — per-partition
      // O(n) heap + driver merge — and guards the silent Sort+Limit cliff
      // above topKSortFallbackThreshold
      graft.operators.TopKDispatch.globalTopK(
        toks.groupBy("gram")
          .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("df")),
        20, col("n").desc, col("gram"))
    },

    // Per-source dataset card: the release-notes row of a corpus drop —
    // doc/token volumes, mean and median length, language spread, and
    // the exact-dup fraction (docs sharing dd_exact's first-5-token key
    // with any other doc). One key-shuffle for the dup count, one
    // source-agg; exact-integer ratios divide once in IEEE double so
    // both engines agree. Median via the q_percentile interpolation
    // twins (percentile / quantile_cont), rounded 4dp.
    Q("pl_dataset_card",
      """WITH t AS (SELECT source, lang, doc_id,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok,
        |    array_to_string(list_filter(string_split(text, ' '), x -> x <> '')[1:5], ' ') AS key
        |  FROM documents),
        |k AS (SELECT key, count(*) AS kc FROM t GROUP BY key)
        |SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(n_tok) AS DOUBLE) / count(*), 6) AS avg_tokens,
        |  round(quantile_cont(n_tok, 0.5), 4) AS med_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  round(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS en_share,
        |  CAST(sum(CASE WHEN kc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs
        |FROM t JOIN k USING (key)
        |GROUP BY source""".stripMargin) { (s, dir) =>
      val toks = TextOps.tokens(col("text"))
      val t = Tables.load(s, dir, "documents")
        .select(col("source"), col("lang"),
          size(toks).cast("long").as("n_tok"),
          array_join(slice(toks, 1, 5), " ").as("key"))
      val k = t.groupBy("key").agg(count(lit(1)).as("kc"))
      t.join(k, "key")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          round(sum("n_tok").cast("double") / count(lit(1)), 6).as("avg_tokens"),
          round(expr("percentile(n_tok, 0.5)"), 4).as("med_tokens"),
          countDistinct("lang").as("n_langs"),
          round(sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 6).as("en_share"),
          sum(when(col("kc") > 1, 1L).otherwise(0L)).as("dup_docs"))
    },

    // Vocabulary coverage curve: what fraction of all token OCCURRENCES
    // a top-k frequency vocabulary covers, at standard cut points — the
    // tokenizer-design query (how big must the vocab be before <unk>
    // rates are acceptable). Two shuffles (term counts, then one rank
    // window over the vocabulary — vocab-sized, not corpus-sized) and a
    // 4-row output; the corpus-sized explode collapses in the first
    // map-side partial agg. Share is a ratio of exact BIGINTs rounded
    // 6dp, so both engines agree bit-for-bit.
    Q("tx_ngram_coverage",
      """WITH t AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |  FROM documents),
        |c AS (SELECT term, count(*) AS n FROM t GROUP BY term),
        |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rnk,
        |    sum(n) OVER (ORDER BY n DESC, term
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM c),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS vocab FROM c)
        |SELECT k, vocab,
        |  round(CAST(cov AS DOUBLE) / total, 6) AS coverage
        |FROM (SELECT ks.k,
        |    (SELECT max(cum) FROM r WHERE rnk <= ks.k) AS cov
        |  FROM (SELECT unnest([10, 20, 40, 80]) AS k) ks) x
        |CROSS JOIN tot""".stripMargin) { (s, dir) =>
      val counts = Tables.load(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
      val w = Window.orderBy(col("n").desc, col("term"))
      val ranked = counts
        .withColumn("rnk", row_number().over(w))
        .withColumn("cum",
          sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      val tot = counts.agg(sum("n").cast("long").as("total"),
        count(lit(1)).cast("long").as("vocab"))
      val cuts = Seq(10, 20, 40, 80)
      val cov = ranked
        .crossJoin(broadcast(
          s.createDataFrame(cuts.map(Tuple1(_))).toDF("k")))
        .filter(col("rnk") <= col("k"))
        .groupBy("k").agg(max("cum").as("cov"))
      cov.crossJoin(broadcast(tot))
        .select(col("k"), col("vocab"),
          round(col("cov").cast("double") / col("total"), 6).as("coverage"))
    },

    // Filter-funnel observability: how many documents survive each
    // cumulative quality gate. One scan, conditional aggregation — the
    // per-stage counts every corpus pipeline reports. Scales as a single
    // pass with partial aggregation.
    Q("tx_quality_funnel",
      """SELECT count(*) AS all_docs,
        |  CAST(SUM(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS len_ok,
        |  CAST(SUM(CASE WHEN n_chars >= 100 AND lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS lang_ok,
        |  CAST(SUM(CASE WHEN n_chars >= 100 AND lang = 'en'
        |    AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 20
        |    THEN 1 ELSE 0 END) AS BIGINT) AS tokens_ok
        |FROM documents""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val lenOk = col("n_chars") >= 100
      val langOk = lenOk && col("lang") === "en"
      val toksOk = langOk && size(TextOps.tokens(col("text"))) >= 20
      d.agg(
        count(lit(1)).as("all_docs"),
        sum(when(lenOk, 1L).otherwise(0L)).as("len_ok"),
        sum(when(langOk, 1L).otherwise(0L)).as("lang_ok"),
        sum(when(toksOk, 1L).otherwise(0L)).as("tokens_ok"))
    },

    // Concat-and-chunk sequence packing — the standard pretraining
    // packing: documents concatenate in a deterministic order and chunk
    // into fixed token budgets; a doc's chunk span falls out of the
    // running token total. Packed PER SOURCE (partition by shard key,
    // order within) so the window parallelizes across shards instead of
    // serializing the corpus through one global sort — exactly how a
    // 100 TB pipeline shards its packing.
    Q("tx_pack_chunks",
      """WITH t AS (SELECT source, doc_id,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
        |  FROM documents),
        |c AS (SELECT source, doc_id, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tok AS cum_before
        |  FROM t)
        |SELECT source, doc_id, n_tok,
        |  CAST(FLOOR(cum_before / 256) AS BIGINT) AS chunk_start,
        |  CAST(FLOOR((cum_before + n_tok - 1) / 256) AS BIGINT) AS chunk_end
        |FROM c WHERE n_tok > 0""".stripMargin) { (s, dir) =>
      // two-level prefix sum: source has ~20 values regardless of
      // corpus size — see pl_pack's rationale
      val t = Tables.load(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      Ranks.bucketedPrefixSum(
          t.withColumn("__bkt", expr("doc_id div 16384")),
          Seq("source"), "__bkt", "n_tok", Seq(col("doc_id")), "__csum")
        .withColumn("cum_before", col("__csum") - col("n_tok"))
        .filter(col("n_tok") > 0)
        .select(col("source"), col("doc_id"), col("n_tok"),
          floor(col("cum_before") / 256).as("chunk_start"),
          floor((col("cum_before") + col("n_tok") - 1) / 256).as("chunk_end"))
    },

    // Unigram LM quality score: mean corpus probability of a document's
    // tokens — the classic cheap rare-junk filter (low mean_p = full of
    // corpus-rare tokens). Parity trick: mean_p = sum(cnt)/(n_tokens*N)
    // keeps EVERYTHING integral until one final IEEE division, so no
    // float-summation order can diverge. Plan at scale: tf shuffle +
    // term-keyed join (dictionary outgrows broadcast at corpus scale,
    // same note as tx_tfidf) + one per-doc agg.
    Q("tx_lm_score",
      "WITH " + meanPBody + """
        |SELECT doc_id, n_tokens, mean_p FROM sc""".stripMargin) { (s, dir) =>
      // Aggregate the token stream to per-(doc, term) counts FIRST and
      // derive everything from that frame (round-15, guide §2.3): the
      // old plan joined the RAW corpus-sized token explode back to the
      // per-term counts. All sums here are integral, so sum(cnt) over
      // token rows == sum(cnt*tf) over (doc, term) groups EXACTLY, and
      // mean_p's single final IEEE division is unchanged. The frame is
      // built/aliased identically to tx_tfidf's tf so the registry can
      // share one live copy across the text-scoring rows.
      val tf = Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .transform(TextOps.trackCache)
      val cnt = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
      val total = tf.agg(sum(col("tf")).as("n"))
      tf.join(cnt, "term").crossJoin(total)
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          (sum(col("cnt") * col("tf")).cast("double")
            / (sum(col("tf")) * max(col("n")))).as("mean_p"))
    },

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): per-language
    // tercile cut points estimated on a deterministic md5 sample, then
    // EVERY document classified row-locally against the (lang, c1, c2)
    // cut table. This is the shape that scales: the corpus is never
    // globally sorted or ranked — only the bounded sample is windowed,
    // and classification is a broadcast join of a k-language cut table.
    // Score = tx_lm_score's mean_p (integral until one final division,
    // so cuts and comparisons are bit-identical across engines).
    Q("tx_ppx_bucket",
      "WITH " + meanPBody + """,
        |d AS (SELECT sc.doc_id, doc.lang, sc.mean_p
        |  FROM sc JOIN documents doc ON sc.doc_id = doc.doc_id),
        |samp AS (SELECT lang, mean_p,
        |    row_number() OVER (PARTITION BY lang ORDER BY mean_p, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM d WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'),
        |cuts AS (SELECT lang,
        |    max(CASE WHEN rn <= CAST(ceil(n / 3.0) AS BIGINT) THEN mean_p END) AS c1,
        |    max(CASE WHEN rn <= CAST(ceil(2 * n / 3.0) AS BIGINT) THEN mean_p END) AS c2
        |  FROM samp GROUP BY lang)
        |SELECT d.doc_id, d.lang,
        |  CASE WHEN c1 IS NULL THEN 'high'
        |       WHEN d.mean_p <= c1 THEN 'low'
        |       WHEN d.mean_p <= c2 THEN 'mid' ELSE 'high' END AS bucket
        |FROM d LEFT JOIN cuts ON d.lang = cuts.lang""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      // same derive-from-the-(doc,term)-aggregate rewrite as tx_lm_score
      // (round-15, guide §2.3) — integral sums, so mean_p is bit-equal;
      // the tf frame is plan-identical to tx_lm_score's / tx_tfidf's for
      // registry sharing
      val tf = docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .transform(TextOps.trackCache)
      val cnt = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
      val total = tf.agg(sum(col("tf")).as("n"))
      val sc = tf.join(cnt, "term").crossJoin(total)
        .groupBy(col("doc_id"))
        .agg((sum(col("cnt") * col("tf")).cast("double")
          / (sum(col("tf")) * max(col("n")))).as("mean_p"))
      val d = sc.join(docs.select("doc_id", "lang"), "doc_id")
      val wr = Window.partitionBy("lang").orderBy(col("mean_p"), col("doc_id"))
      val wn = Window.partitionBy("lang")
      val cuts = d
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) < "4")
        .withColumn("rn", row_number().over(wr))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy("lang")
        .agg(
          max(when(col("rn") <= ceil(col("n") / 3.0).cast("long"), col("mean_p"))).as("c1"),
          max(when(col("rn") <= ceil(col("n") * 2 / 3.0).cast("long"), col("mean_p"))).as("c2"))
      d.join(broadcast(cuts), Seq("lang"), "left")
        .select(col("doc_id"), col("lang"),
          when(col("c1").isNull, "high")
            .when(col("mean_p") <= col("c1"), "low")
            .when(col("mean_p") <= col("c2"), "mid")
            .otherwise("high").as("bucket"))
    },

    // Deterministic WEIGHTED sampling (Efraimidis-Spirakis A-ES) in the
    // LOG domain: rank by ln(u)/w (monotone in u^(1/w)) with u an
    // md5-derived uniform strictly inside (0,1) and w = n_chars —
    // longer documents proportionally likelier, the whole draw
    // reproducible across engines and reruns (the md5-keyed analog of
    // q_hash_sample for the weighted case). The direct u^(1/w) key
    // saturated: 6dp rounding collapsed every large-weight key to
    // 1.000000 (top-20 became "lowest doc_ids"), and u=(hv+1)/2^28
    // could reach exactly 1.0, winning at ANY weight (round-12 review
    // finding, both engines identically). Parity: ln() is libm, so it
    // rounds to 6dp FIRST (|ln u| is O(1..19), far above double noise);
    // dividing the rounded ln by the exact integer w is one IEEE
    // division — bit-identical across engines at full ranking
    // resolution, no saturation at any corpus scale. Top-k is
    // TakeOrdered, row-local otherwise.
    Q("tx_weighted_sample",
      """WITH h AS (SELECT doc_id, n_chars,
        |    list_reduce(list_transform(range(1, 8),
        |      i -> CAST(strpos('0123456789abcdef',
        |             substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |      (a, x) -> a * 16 + x) AS hv
        |  FROM documents WHERE n_chars > 0),
        |k AS (SELECT doc_id, n_chars,
        |    round(ln((CAST(hv AS DOUBLE) + 0.5) / 268435456.0), 6) / n_chars AS skey
        |  FROM h)
        |SELECT doc_id, n_chars, skey FROM k
        |ORDER BY skey DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("double") + 0.5) / 268435456.0
      Tables.load(s, dir, "documents")
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars"),
          (round(log(u), 6) / col("n_chars")).as("skey"))
        .orderBy(col("skey").desc, col("doc_id"))
        .limit(20)
    },

    // DSIR data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score every raw
    // document by the log importance weight between a target
    // distribution (the curated src0-4 slice — the same slice
    // tx_quality_train labels positive) and the raw pool, both
    // modeled as bag-of-hashed-unigram multinomials over 256 md5
    // buckets with add-1 smoothing; keep raw docs whose weight is
    // positive. Parity: the per-bucket log-ratio is one ln() of an
    // ratio of per-factor double products (each factor exact below
    // 2^53; the PRODUCT is computed in double on both engines so
    // corpus-wide token totals past ~3e9 round identically instead of
    // wrapping 64-bit), rounded to 6 dp before
    // the per-doc sum (the tx_zipf pattern), and the score rounds
    // again before the threshold. Scale posture: bucket counts are a
    // 256-key aggregate, totals a 1-row broadcast, the 256-row weight
    // table a broadcast join — the only fact-scale shuffle is the
    // per-doc score aggregate, and the hashed feature space is FIXED
    // (256) no matter how large the vocabulary grows, which is the
    // point of DSIR at 100 TB.
    Q("tx_dsir_select",
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |""".stripMargin + dsirBucketsBody("doc_id, source") + """,
        |cnts AS (
        |  SELECT bkt, count(*) AS cr,
        |    count(CASE WHEN source IN ('src0','src1','src2','src3','src4')
        |               THEN 1 END) AS ct
        |  FROM b GROUP BY 1),
        |""".stripMargin + dsirLrBody + """,
        |score AS (
        |  SELECT doc_id, max(source) AS source, round(SUM(lw), 6) AS dsir_score
        |  FROM b JOIN lr USING (bkt) GROUP BY doc_id)
        |SELECT doc_id, source, dsir_score,
        |  CAST(dsir_score > 0 AS INT) AS selected
        |FROM score
        |WHERE source NOT IN ('src0','src1','src2','src3','src4')""".stripMargin) { (s, dir) =>
      val target = Seq("src0", "src1", "src2", "src3", "src4")
      // No corpus-sized cache at all (round-15, guide §2.3/§5): the
      // round-14 version cached the raw md5'd token explode (a
      // multi-corpus-size materialization at scale) to share it between
      // the bucket-count aggregate and the per-doc score. Each consumer
      // now aggregates the explode directly — cnts is a 256-group
      // map-side-combined agg, the score pass broadcast-joins the 256-row
      // weight table and aggregates by doc — two corpus scans, zero cache
      // footprint. (A middle variant caching the (doc, source, bkt)
      // count table was tried and rejected: ~1 group per input token at
      // this corpus's bucket spread, so the extra wide aggregate cost
      // more than the saved scan.)
      val b = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), col("source"),
          (conv(substring(md5(col("tok")), 1, 2), 16, 10).cast("int"))
            .as("bkt"))
        // never null (md5's first two hex digits are 0-255), but stated so
        // the isnotnull(bkt) the weight join infers is on BOTH copies of
        // cnts: lr's and tot's bucket-count exchanges stay identical and
        // Spark reuses one for the other instead of re-scanning the corpus
        .filter(col("bkt").isNotNull)
      val cnts = b.groupBy("bkt").agg(
        count(lit(1)).as("cr"),
        count(when(col("source").isin(target: _*), 1)).as("ct"))
      val tot = cnts.agg(sum("cr").as("r"), sum("ct").as("t"))
      val lr = cnts.crossJoin(broadcast(tot))
        .select(col("bkt"),
          round(log((col("ct") + 1).cast("double") * (col("r") + 256).cast("double") /
            ((col("cr") + 1).cast("double") * (col("t") + 256).cast("double"))), 6).as("lw"))
      b.join(broadcast(lr), "bkt")
        .groupBy("doc_id")
        .agg(max(col("source")).as("source"),
          round(sum(col("lw")), 6).as("dsir_score"))
        .filter(!col("source").isin(target: _*))
        .select(col("doc_id"), col("source"), col("dsir_score"),
          (col("dsir_score") > 0).cast("int").as("selected"))
    },

    // INCREMENTAL DSIR — the daily-ingest posture (dd_incremental's
    // sibling for data selection): the importance weights are fitted on
    // the EXISTING corpus only (an md5-keyed 15/16 split standing in for
    // yesterday's persisted weight table) and the md5-keyed 1/16
    // incoming batch is scored against them — new data never re-fits
    // the model it is being selected by. Same 256-bucket hashed-unigram
    // machinery and 6dp-ln parity rules as tx_dsir_select; at 100 TB
    // the weight table is a 256-row persisted artifact and each ingest
    // batch pays one tokenize + one doc-score aggregate.
    Q("tx_dsir_incremental",
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f' AS incoming,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |""".stripMargin + dsirBucketsBody("doc_id, source, incoming") + """,
        |cnts AS (
        |  SELECT bkt, count(*) AS cr,
        |    count(CASE WHEN source IN ('src0','src1','src2','src3','src4')
        |               THEN 1 END) AS ct
        |  FROM b WHERE NOT incoming GROUP BY 1),
        |""".stripMargin + dsirLrBody + """,
        |dflt AS (
        |  SELECT round(ln(CAST(r + 256 AS DOUBLE) / CAST(t + 256 AS DOUBLE)), 6) AS lw0
        |  FROM tot),
        |score AS (
        |  SELECT doc_id, max(source) AS source,
        |    round(SUM(coalesce(lw, lw0)), 6) AS dsir_score
        |  FROM b LEFT JOIN lr USING (bkt) CROSS JOIN dflt
        |  WHERE incoming GROUP BY doc_id)
        |SELECT doc_id, source, dsir_score,
        |  CAST(dsir_score > 0 AS INT) AS selected
        |FROM score""".stripMargin) { (s, dir) =>
      val target = Seq("src0", "src1", "src2", "src3", "src4")
      // no corpus-sized cache — same two-pass shape as tx_dsir_select
      // (round-15, guide §2.3/§5): the weight fit aggregates the existing
      // slice by bucket directly, the score pass re-derives the incoming
      // slice and broadcast-joins the 256-row weight table
      val b = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          (substring(md5(col("doc_id").cast("string")), 1, 1) === "f")
            .as("incoming"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), col("source"), col("incoming"),
          (conv(substring(md5(col("tok")), 1, 2), 16, 10).cast("int"))
            .as("bkt"))
        .filter(col("bkt").isNotNull) // exchange reuse, as in tx_dsir_select
      val cnts = b.filter(!col("incoming")).groupBy("bkt").agg(
        count(lit(1)).as("cr"),
        count(when(col("source").isin(target: _*), 1)).as("ct"))
      val tot = cnts.agg(sum("cr").as("r"), sum("ct").as("t"))
      val lr = cnts.crossJoin(broadcast(tot))
        .select(col("bkt"),
          round(log((col("ct") + 1).cast("double") * (col("r") + 256).cast("double") /
            ((col("cr") + 1).cast("double") * (col("t") + 256).cast("double"))), 6).as("lw"))
      // a bucket the EXISTING corpus never hashed into still has a
      // well-defined add-1-smoothed weight ln((r+256)/(t+256)) — an
      // inner join silently scored it 0, inflating dsir_score exactly on
      // the new-vocabulary ingests incremental DSIR exists for
      // (round-12 review finding; both dialects shared the inner join)
      val dflt = tot.select(round(log(
        (col("r") + 256).cast("double") / (col("t") + 256).cast("double")),
        6).as("lw0"))
      b.filter(col("incoming")).join(broadcast(lr), Seq("bkt"), "left")
        .crossJoin(broadcast(dflt))
        .groupBy("doc_id")
        .agg(max(col("source")).as("source"),
          round(sum(coalesce(col("lw"), col("lw0"))), 6).as("dsir_score"))
        .select(col("doc_id"), col("source"), col("dsir_score"),
          (col("dsir_score") > 0).cast("int").as("selected"))
    },

    // Unigram-LM tokenizer (Kudo 2018, SentencePiece's second algorithm —
    // the BPE rows' sibling): seed vocabulary = all substrings (len<=4)
    // of the distinct words scored by containing-word frequency, then
    // Viterbi-EM — round-1 Viterbi segmentation under the seed probs,
    // piece counts re-estimated from it (E/M), round-2 Viterbi under the
    // re-estimated probs. Determinism: piece log-probs are INTEGER
    // milli-nats (round(1000*ln p) — one ln per piece, the house libm
    // envelope), so segmentation scores are exact integer sums with a
    // (score DESC, piece-count ASC, segmentation ASC) total order both
    // engines replay bit-for-bit; segmentations are enumerated by
    // boundary MASK (words are <=8 chars, <=128 masks) rather than a DP,
    // which keeps the whole computation relational. Scale posture: ONLY
    // the word-count aggregate touches the corpus; everything after is
    // vocab-bounded (distinct words x 128 masks) — the standard
    // tokenizer-training shape where the corpus pass and the
    // vocabulary-sized EM are separate tiers.
    Q("tx_unigram_lm",
      """WITH wc AS (
        |  SELECT w, count(*) AS cnt FROM (
        |    -- same 8-char guard as the Spark side's raise_error: a longer
        |    -- word makes the 128-mask enumeration incomplete, so BOTH
        |    -- engines must refuse identically, not one raise / one train
        |    -- an incomplete vocabulary (round-12 ADVICE)
        |    SELECT CASE WHEN length(w0) <= 8 THEN w0
        |      ELSE error('tx_unigram_lm: word longer than 8 chars - the 128-mask segmentation enumeration is incomplete; raise the mask budget before training on this corpus')
        |      END AS w FROM (
        |      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w0
        |      FROM documents)) GROUP BY 1),
        |sub AS (
        |  SELECT DISTINCT substr(w, s, l) AS piece
        |  FROM wc, range(1, 9) r1(s), range(1, 5) r2(l)
        |  WHERE s + l - 1 <= length(w)),
        |f0 AS (
        |  SELECT piece, f FROM (
        |    SELECT piece, CAST(SUM(cnt) AS BIGINT) AS f,
        |      row_number() OVER (ORDER BY CAST(SUM(cnt) AS BIGINT) DESC, piece) AS rk
        |    FROM sub JOIN wc ON strpos(w, piece) > 0
        |    GROUP BY 1) WHERE rk <= 4096 OR length(piece) = 1),
        |t0 AS (SELECT CAST(SUM(f) AS BIGINT) AS tot FROM f0),
        |lw0 AS (
        |  SELECT piece, CAST(round(1000 * ln(CAST(f AS DOUBLE) / tot)) AS BIGINT) AS lw
        |  FROM f0, t0),
        |segs AS (
        |  SELECT w, cnt, mask,
        |    list_transform(range(1, len(bnd)),
        |      j -> substr(w, bnd[CAST(j AS INT)] + 1,
        |                  bnd[CAST(j AS INT) + 1] - bnd[CAST(j AS INT)])) AS pieces
        |  FROM (
        |    SELECT w, cnt, mask,
        |      list_concat(list_concat([0],
        |        list_filter(range(1, CAST(length(w) AS BIGINT)),
        |          i -> (mask >> CAST(i - 1 AS INT)) & 1 = 1)),
        |        [CAST(length(w) AS BIGINT)]) AS bnd
        |    FROM wc, range(0, 128) m(mask)
        |    WHERE mask < CAST(pow(2, length(w) - 1) AS BIGINT))),
        |sc1 AS (
        |  SELECT s.w, s.cnt, s.mask, s.pieces, CAST(SUM(l.lw) AS BIGINT) AS score
        |  FROM segs s, unnest(s.pieces) AS u(p)
        |  JOIN lw0 l ON l.piece = u.p
        |  GROUP BY 1, 2, 3, 4
        |  HAVING count(*) = len(s.pieces)),
        |best1 AS (
        |  SELECT w, cnt, pieces FROM (
        |    SELECT *, row_number() OVER (PARTITION BY w
        |      ORDER BY score DESC, len(pieces) ASC,
        |               array_to_string(pieces, ' ') ASC) AS rn
        |    FROM sc1) WHERE rn = 1),
        |c1 AS (
        |  SELECT p AS piece, CAST(SUM(cnt) AS BIGINT) AS c
        |  FROM best1, unnest(pieces) AS u(p) GROUP BY 1),
        |t1 AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM c1),
        |lw1 AS (
        |  SELECT piece, CAST(round(1000 * ln(CAST(c AS DOUBLE) / tot)) AS BIGINT) AS lw
        |  FROM c1, t1),
        |sc2 AS (
        |  SELECT s.w, s.cnt, s.mask, s.pieces, CAST(SUM(l.lw) AS BIGINT) AS score
        |  FROM segs s, unnest(s.pieces) AS u(p)
        |  JOIN lw1 l ON l.piece = u.p
        |  GROUP BY 1, 2, 3, 4
        |  HAVING count(*) = len(s.pieces)),
        |best2 AS (
        |  SELECT w, cnt, pieces, score FROM (
        |    SELECT *, row_number() OVER (PARTITION BY w
        |      ORDER BY score DESC, len(pieces) ASC,
        |               array_to_string(pieces, ' ') ASC) AS rn
        |    FROM sc2) WHERE rn = 1)
        |SELECT w AS word, cnt, array_to_string(pieces, ' ') AS seg,
        |  CAST(len(pieces) AS INT) AS k, score AS milli_nats
        |FROM best2""".stripMargin) { (s, dir) =>
      val wc = TextOps.trackCache(
        Tables.load(s, dir, "documents")
          .select(explode(TextOps.tokens(col("text"))).as("w0"))
          // the mask enumeration covers boundary bits 1..7 only: a 9+
          // char word's segmentations are an INCOMPLETE candidate set
          // and a 12+ char word silently VANISHES from the vocabulary
          // (every piece > 4 chars) — raise instead of silently training
          // a wrong tokenizer (round-12 review; q_zorder guard pattern)
          .select(when(length(col("w0")) <= 8, col("w0"))
            .otherwise(raise_error(lit(
              "tx_unigram_lm: word longer than 8 chars — the 128-mask " +
                "segmentation enumeration is incomplete; raise the mask " +
                "budget before training on this corpus"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cnt")))
      // seed pieces: substrings len 1..4 of any distinct word
      val sub = wc
        .select(col("w"), explode(sequence(lit(1), lit(8))).as("s"))
        .select(col("w"), col("s"), explode(sequence(lit(1), lit(4))).as("l"))
        .filter(col("s") + col("l") - 1 <= length(col("w")))
        .select(expr("substring(w, s, l)").as("piece")).distinct()
      // f0: containing-word frequency (vocab x vocab bounded non-equi
      // join) — tracked-cached: milliNats reads its input twice (total
      // + crossJoin), and this is the row's most expensive vocab stage.
      // Single-character pieces survive the 4096 cut UNCONDITIONALLY
      // (Kudo's coverage guarantee: every word must stay segmentable —
      // a rare script char below the cut silently deleted its words
      // from the trained model in both dialects; round-12 review)
      val rkw = org.apache.spark.sql.expressions.Window
        .orderBy(col("f").desc, col("piece"))
      val f0 = TextOps.trackCache(
        sub.join(broadcast(wc), instr(col("w"), col("piece")) > 0)
          .groupBy("piece").agg(sum(col("cnt")).as("f"))
          .withColumn("rk", row_number().over(rkw))
          .filter(col("rk") <= 4096 || length(col("piece")) === 1)
          .select("piece", "f"))
      def milliNats(tbl: org.apache.spark.sql.DataFrame,
          cField: String): org.apache.spark.sql.DataFrame = {
        val tot = tbl.agg(sum(col(cField)).as("tot"))
        tbl.crossJoin(broadcast(tot))
          .select(col("piece"),
            round(lit(1000) * log(col(cField).cast("double") / col("tot")))
              .cast("long").as("lw"))
      }
      // all segmentations of each distinct word via boundary masks
      val segs = TextOps.trackCache(wc
        .select(col("w"), col("cnt"),
          explode(sequence(lit(0), lit(127))).as("mask"))
        .filter(col("mask") < pow(lit(2.0), length(col("w")) - 1).cast("long"))
        .withColumn("bnd", expr(
          // CASE guard: Spark's sequence(1, 0) runs DESCENDING, so a
          // 1-char word would otherwise probe bit -1
          """concat(array(0L),
            |  CASE WHEN length(w) > 1 THEN
            |    filter(sequence(1L, cast(length(w) AS LONG) - 1),
            |      i -> (mask >> cast(i - 1 AS INT)) & 1 = 1)
            |  ELSE cast(array() AS array<bigint>) END,
            |  array(cast(length(w) AS LONG)))""".stripMargin))
        .withColumn("pieces", expr(
          """transform(sequence(1, size(bnd) - 1),
            |  j -> substring(w, cast(element_at(bnd, j) AS INT) + 1,
            |    cast(element_at(bnd, j + 1) - element_at(bnd, j) AS INT)))"""
            .stripMargin))
        .select("w", "cnt", "mask", "pieces"))
      // Viterbi under a piece table: integer milli-nat sum, all pieces
      // known, (score DESC, k ASC, seg ASC) argmax per word
      def viterbi(lw: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        val scored = segs
          .select(col("w"), col("cnt"), col("mask"), col("pieces"),
            explode(col("pieces")).as("p"))
          .join(broadcast(lw), col("p") === col("piece"))
          .groupBy("w", "cnt", "mask", "pieces")
          .agg(sum(col("lw")).as("score"), count(lit(1)).as("np"))
          .filter(col("np") === size(col("pieces")))
        val rnw = org.apache.spark.sql.expressions.Window.partitionBy("w")
          .orderBy(col("score").desc, size(col("pieces")).asc,
            array_join(col("pieces"), " ").asc)
        scored.withColumn("rn", row_number().over(rnw)).filter(col("rn") === 1)
          .select("w", "cnt", "pieces", "score")
      }
      val best1 = viterbi(milliNats(f0, "f"))
      // E-step piece counts from the round-1 segmentation, M-step probs
      // (cached for milliNats' double read, like f0)
      val c1 = TextOps.trackCache(
        best1.select(col("cnt"), explode(col("pieces")).as("piece"))
          .groupBy("piece").agg(sum(col("cnt")).as("c")))
      viterbi(milliNats(c1, "c"))
        .select(col("w").as("word"), col("cnt"),
          array_join(col("pieces"), " ").as("seg"),
          size(col("pieces")).as("k"), col("score").as("milli_nats"))
    },

    // Corpus Zipf fit: slope of the log-log rank/frequency regression
    // over the top-50 vocabulary — the standard sanity statistic for a
    // token distribution (natural text ~ -1). Parity handling: ln() is
    // libm (last-ulp differences across engines), so each log rounds to
    // 6 dp BEFORE the sums, and each sum rounds to 6 dp before the
    // slope — plain-SUM order noise (~1e-13 over 50 values) is far
    // below both roundings. Heavy-hitter top-k + one tiny regression:
    // the corpus-touching stage is the token count, nothing else.
    Q("tx_zipf",
      """WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
        |  FROM documents),
        |c AS (SELECT t, count(*) AS n FROM tok GROUP BY t),
        |top AS (SELECT n, r FROM (
        |    SELECT n, row_number() OVER (ORDER BY n DESC, t) AS r FROM c) z
        |  WHERE r <= 50),
        |s AS (SELECT count(*) AS k,
        |    round(sum(round(ln(r), 6)), 6) AS sx,
        |    round(sum(round(ln(n), 6)), 6) AS sy,
        |    round(sum(round(ln(r), 6) * round(ln(r), 6)), 6) AS sxx,
        |    round(sum(round(ln(r), 6) * round(ln(n), 6)), 6) AS sxy
        |  FROM top)
        |SELECT CAST(k AS BIGINT) AS k,
        |  round((k * sxy - sx * sy) / (k * sxx - sx * sx), 4) AS zipf_slope
        |FROM s""".stripMargin) { (s, dir) =>
      val toks = Tables.load(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("t"))
      val counts = toks.groupBy("t").agg(count(lit(1)).as("n"))
      // TakeOrdered top-50 FIRST, then rank within the 50-row result —
      // a global row_number over the whole vocabulary would sort the
      // dictionary through one partition (the q_topk rule)
      val top = counts.orderBy(col("n").desc, col("t")).limit(50)
        .withColumn("r", row_number().over(Window.orderBy(col("n").desc, col("t"))))
      val lr = round(log(col("r")), 6)
      val ln_ = round(log(col("n")), 6)
      top.agg(count(lit(1)).as("k"),
          round(sum(lr), 6).as("sx"), round(sum(ln_), 6).as("sy"),
          round(sum(lr * lr), 6).as("sxx"), round(sum(lr * ln_), 6).as("sxy"))
        .select(col("k"),
          round((col("k") * col("sxy") - col("sx") * col("sy"))
            / (col("k") * col("sxx") - col("sx") * col("sx")), 4).as("zipf_slope"))
    },

    // PII/pattern scrub: regex detect + redact, the pipeline stage that
    // strips identifiers before training. Row-local regexes (codegen'd
    // in Spark, RE2 in the oracle — patterns kept to the common
    // semantics), so it scales as a pure projection. On this synthetic
    // corpus the digit-run pattern fires (customer keys embed 9-digit
    // runs); the email pattern is dark but exercised.
    Q("tx_pii",
      """SELECT c_custkey,
        |  CAST(len(regexp_extract_all(c_name, '[0-9]{6,}')) AS BIGINT) AS long_digit_hits,
        |  CAST(len(regexp_extract_all(c_name,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS email_hits,
        |  regexp_replace(c_name, '[0-9]', 'X', 'g') AS redacted
        |FROM customer""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "customer").select(
        col("c_custkey"),
        size(regexp_extract_all(col("c_name"), lit("[0-9]{6,}"), lit(0)))
          .cast("long").as("long_digit_hits"),
        size(regexp_extract_all(col("c_name"),
          lit("[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"), lit(0)))
          .cast("long").as("email_hits"),
        regexp_replace(col("c_name"), "[0-9]", "X").as("redacted"))
    },

    // Deterministic hash sampling — THE distributed sampling method: an
    // md5-prefix filter is reproducible across engines, machines and
    // reruns (no RNG state), embarrassingly parallel, and composes with
    // any downstream op. Rate here: first hex char < '4' = 4/16 = 25%.
    Q("q_hash_sample",
      """WITH s AS (SELECT doc_id, lang FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4')
        |SELECT lang, count(*) AS n_sampled,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM s GROUP BY lang""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) < "4")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    },

    // STRATIFIED deterministic hash sampling: a per-stratum rate table
    // (upsample head languages, downsample the tail — the standard corpus
    // rebalancing move) applied through the same md5-prefix filter as
    // q_hash_sample, so the sample is reproducible across engines and
    // reruns. Row-local decision + one partial agg; no shuffle beyond the
    // 5-group rollup.
    Q("q_stratified",
      """WITH s AS (SELECT doc_id, lang FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
        |    CASE lang WHEN 'en' THEN '8' WHEN 'zh' THEN '4'
        |              WHEN 'es' THEN '4' WHEN 'de' THEN '2' ELSE '1' END)
        |SELECT lang, count(*) AS n_sampled,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM s GROUP BY lang""".stripMargin) { (s, dir) =>
      val rate = when(col("lang") === "en", "8").when(col("lang") === "zh", "4")
        .when(col("lang") === "es", "4").when(col("lang") === "de", "2")
        .otherwise("1")
      Tables.load(s, dir, "documents")
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) < rate)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    },

    // Deterministic per-key reservoir: exactly k docs per stratum, chosen
    // by md5 order — the distributed replacement for random reservoir
    // sampling (same sample on every run/engine/cluster layout). Per-key
    // top-k window: the shuffle is on the stratum key and each partition
    // only ranks its own stratum; at corpus scale this is the standard
    // "k examples per source for eval" extraction.
    Q("q_reservoir_group",
      """SELECT lang, doc_id, rn FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t WHERE rn <= 3""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.load(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("lang"), col("doc_id"), col("rn"))
    },

    // Mixture-weight allocation: per-source token counts -> alpha=0.5
    // smoothed sampling weights (w = floor(sqrt(tokens)) keeps everything
    // integral: ppm shares and repeat epochs come out of exact BIGINT
    // division, so no float-summation order can diverge between engines).
    // This is the "how much of each source goes in the mix" table every
    // pretraining run starts from. One partial agg per source + a
    // broadcast of the 1-row totals.
    Q("q_mix_alloc",
      """WITH t AS (SELECT source,
        |    CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_tok
        |  FROM documents GROUP BY source),
        |x AS (SELECT source, n_tok, CAST(FLOOR(SQRT(n_tok)) AS BIGINT) AS w FROM t),
        |s AS (SELECT CAST(SUM(w) AS BIGINT) AS tw, MAX(n_tok) AS mx FROM x)
        |SELECT source, n_tok, w,
        |  CAST(w * 1000000 // tw AS BIGINT) AS share_ppm,
        |  CAST((mx + n_tok - 1) // n_tok AS BIGINT) AS epochs
        |FROM x CROSS JOIN s""".stripMargin) { (s, dir) =>
      val t = Tables.load(s, dir, "documents")
        .select(col("source"), size(TextOps.tokens(col("text"))).cast("long").as("nt"))
        .groupBy("source").agg(sum("nt").as("n_tok"))
      val x = t.withColumn("w", floor(sqrt(col("n_tok"))).cast("long"))
      val tot = x.agg(sum(col("w")).as("tw"), max(col("n_tok")).as("mx"))
      x.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tok"), col("w"),
          expr("CAST(w * 1000000 div tw AS BIGINT)").as("share_ppm"),
          expr("CAST((mx + n_tok - 1) div n_tok AS BIGINT)").as("epochs"))
    },

    // Exact quota apportionment by largest remainder (Hamilton's
    // method): distribute exactly N=1000 sample slots across the
    // (lang, source) strata proportionally to their character mass —
    // the "sample exactly 1M docs across strata" allocator that share
    // tables like q_mix_alloc don't give you (floors under-allocate;
    // naive rounding over-allocates). base = N*w div W; the leftover
    // L = N - sum(base) slots go to the L largest remainders (ties
    // broken on the stratum key) — all integer, so the allocation is
    // bit-stable. The remainder rank is a window over the ~|strata|
    // rows only — a bounded table at any corpus scale.
    Q("q_apportion",
      """WITH t AS (SELECT lang, source, CAST(sum(n_chars) AS BIGINT) AS w
        |  FROM documents GROUP BY lang, source),
        |s AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM t),
        |b AS (SELECT lang, source, w,
        |    1000 * w // tw AS base, (1000 * w) % tw AS rem
        |  FROM t CROSS JOIN s),
        |l AS (SELECT CAST(1000 - sum(base) AS BIGINT) AS leftover FROM b),
        |r AS (SELECT lang, source, w, base, rem,
        |    row_number() OVER (ORDER BY rem DESC, lang, source) AS rk
        |  FROM b)
        |SELECT lang, source, w, base, rk,
        |  base + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END) AS alloc
        |FROM r CROSS JOIN l""".stripMargin) { (s, dir) =>
      val t = Tables.load(s, dir, "documents")
        .groupBy("lang", "source").agg(sum(col("n_chars")).as("w"))
      val tot = t.agg(sum(col("w")).as("tw"))
      val b = t.crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("w"),
          expr("(1000 * w) div tw").as("base"), expr("(1000 * w) % tw").as("rem"))
      val lo = b.agg((lit(1000) - sum(col("base"))).cast("long").as("leftover"))
      b.withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("lang"), col("source"))))
        .crossJoin(broadcast(lo))
        .select(col("lang"), col("source"), col("w"), col("base"), col("rk"),
          (col("base") + when(col("rk") <= col("leftover"), 1).otherwise(0)).as("alloc"))
    },

    // Train/val/test split assignment by hash bucket (~81/12/6): the
    // same determinism argument as q_hash_sample — a document's split
    // never changes as the corpus grows, which is what makes held-out
    // sets stable across pipeline runs. Row-local assignment, one tiny
    // 3-group aggregate on top.
    Q("q_split_assign",
      """WITH s AS (SELECT doc_id,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'f' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, count(*) AS n_docs,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM s GROUP BY split""".stripMargin) { (s, dir) =>
      val h = substring(md5(col("doc_id").cast("string")), 1, 1)
      Tables.load(s, dir, "documents")
        .withColumn("split",
          when(h < "d", "train").when(h < "f", "val").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    },

    // Multimodal plumbing: opaque binary column + typed metadata. The
    // decode stage is a deterministic stub (real image/audio libs are not
    // in this container); schema, hashing, and batch shape are real.
    Q("mm_binary",
      """SELECT doc_id,
        |  strlen(text) AS byte_len,
        |  md5(text) AS content_hash,
        |  strlen(text) % 640 AS width,
        |  (strlen(text) * 7) % 480 AS height,
        |  n_chars % 30 AS frames
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .withColumn("bin", col("text").cast("binary"))
        .select(
          col("doc_id"),
          octet_length(col("bin")).as("byte_len"),
          md5(col("bin")).as("content_hash"),
          (octet_length(col("bin")) % 640).as("width"),
          (octet_length(col("bin")) * 7 % 480).as("height"),
          (col("n_chars") % 30).as("frames"))
    },

    // Multimodal frame sampling: every 5th frame of each asset exploded
    // to a row with a deterministic per-frame fingerprint — the shape of
    // a video frame-extraction stage (decode itself stays a stub; the
    // explode/fingerprint plumbing is the real, scale-relevant part:
    // one row per sampled frame, no driver-side loops).
    Q("mm_frames",
      """WITH a AS (SELECT doc_id, md5(text) AS content_hash,
        |    CAST(n_chars % 30 AS BIGINT) AS frames FROM documents)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
        |  md5(content_hash || '-' || CAST(f AS VARCHAR)) AS frame_hash
        |FROM a, unnest(range(0, frames, 5)) AS t(f)
        |WHERE frames > 0""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("content_hash"),
          (col("n_chars") % 30).as("frames"))
        .filter(col("frames") > 0)
        .select(col("doc_id"), col("content_hash"),
          explode(sequence(lit(0L), col("frames") - 1, lit(5L))).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          md5(concat(col("content_hash"), lit("-"),
            col("frame_idx").cast("string"))).as("frame_hash"))
    },

    // Multimodal audio, end-to-end and BIT-EXACT: per document,
    // synthesize deterministic 16-bit PCM (an LCG over (doc_id, i)),
    // encode a real RIFF/WAVE container, decode it back through the real
    // chunk-walk decoder (Multimodal.decodeWav — the same path a
    // production WAV column takes), and emit integer features. The
    // oracle recomputes the features from the generator formula alone,
    // so any header, byte-order, channel-mix, or sign error anywhere in
    // the codec round-trip breaks the hash. Channel count alternates by
    // doc parity to exercise the multi-channel mix (same frame on every
    // channel — the mono mix is unchanged, 16-bit samples are dyadic-
    // exact doubles). Row-local mapPartitions, zero shuffles; at 100 TB
    // this is one scan with the decoder JIT-warm per partition.
    // Generator arithmetic note (here and mm_flac/mm_vad): the LCG seed is
    // reduced doc_id % 65536 BEFORE the 1103515245 multiply — identical
    // values for any doc_id (mod distributes over the product of
    // non-negatives) but overflow-free at scale-fixture ids (k*1e9 offsets):
    // the unreduced product overflowed INT64 at the 10x fixture, where
    // DuckDB refuses and the JVM silently WRAPS (round-13 10x gate find).
    Q("mm_audio",
      """WITH d AS (SELECT doc_id, 200 + (doc_id % 50) * 8 AS n FROM documents),
        |s AS (SELECT doc_id, n, i,
        |    (((doc_id % 65536) * 1103515245 + i * 12345) % 65536) - 32768 AS v
        |  FROM d, unnest(range(0, n)) AS t(i)),
        |x AS (SELECT doc_id, n, i, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS p FROM s)
        |SELECT doc_id,
        |  CAST(max(n) AS BIGINT) AS n_samples,
        |  CAST(max(n) // 8 AS BIGINT) AS duration_ms,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |  CAST(sum(CASE WHEN i > 0 AND ((p >= 0) != (v >= 0))
        |           THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross,
        |  CAST(max(abs(v)) AS BIGINT) AS peak_abs
        |FROM x GROUP BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          (lit(200) + col("doc_id") % 50 * 8).cast("int").as("n"))
        .as[(Long, Int)]
        .mapPartitions { it =>
          it.flatMap { case (docId, n) =>
            val pcm = Array.tabulate(n) { i =>
              ((((docId % 65536L) * 1103515245L + i * 12345L) % 65536L) - 32768L).toShort
            }
            val wav = graft.streaming.Multimodal.encodeWavPcm16(
              8000, 1 + (docId % 2).toInt, pcm)
            graft.streaming.Multimodal.decodeWav(wav).map {
              case (rate, ch, _, mono) =>
                var sumAbs, sumSq, zc = 0L
                var peak = 0L
                var i = 0
                while (i < mono.length) {
                  val v = math.round(mono(i) * 32768) // exact: s/32768 dyadic
                  sumAbs += math.abs(v); sumSq += v * v
                  if (math.abs(v) > peak) peak = math.abs(v)
                  if (i > 0 && (mono(i - 1) >= 0) != (mono(i) >= 0)) zc += 1
                  i += 1
                }
                (docId, mono.length.toLong, mono.length * 1000L / rate,
                  ch.toLong, sumAbs, sumSq, zc, peak)
            }
          }
        }
        .toDF("doc_id", "n_samples", "duration_ms", "channels",
          "sum_abs", "sum_sq", "zero_cross", "peak_abs")
    },

    // FLAC, end-to-end and BIT-EXACT (mm_audio's discipline on the
    // compressed codec): per document the same deterministic LCG PCM is
    // encoded as a REAL FLAC stream (fixed predictors, Rice residuals,
    // frame CRCs — streaming/Flac.scala, public xiph spec) and decoded
    // back through the full frame/subframe parser. FLAC is lossless, so
    // every feature is recomputable from the generator formula alone —
    // any predictor, Rice, bit-packing, CRC, or frame-boundary error
    // anywhere in the codec breaks the hash. blockSize=256 forces
    // multi-frame streams (n_frames gates frame segmentation); channel
    // count alternates by doc parity (same frame per channel).
    // Row-local mapPartitions, zero shuffles — one scan at any scale.
    Q("mm_flac",
      """WITH d AS (SELECT doc_id, 200 + (doc_id % 50) * 8 AS n FROM documents),
        |s AS (SELECT doc_id, n, i,
        |    (((doc_id % 65536) * 1103515245 + i * 12345) % 65536) - 32768 AS v
        |  FROM d, unnest(range(0, n)) AS t(i))
        |SELECT doc_id,
        |  CAST(max(n) AS BIGINT) AS n_samples,
        |  CAST((max(n) + 255) // 256 AS BIGINT) AS n_frames,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |  CAST(max(abs(v)) AS BIGINT) AS peak_abs,
        |  CAST(min(CASE WHEN i = 0 THEN v END) AS BIGINT) AS first_v,
        |  CAST(min(CASE WHEN i = n - 1 THEN v END) AS BIGINT) AS last_v
        |FROM s GROUP BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          (lit(200) + col("doc_id") % 50 * 8).cast("int").as("n"))
        .as[(Long, Int)]
        .mapPartitions { it =>
          it.flatMap { case (docId, n) =>
            val pcm = Array.tabulate(n) { i =>
              ((((docId % 65536L) * 1103515245L + i * 12345L) % 65536L) - 32768L).toShort
            }
            val flac = graft.streaming.Flac.encodeFlac(
              8000, 1 + (docId % 2).toInt, pcm, blockSize = 256)
            graft.streaming.Flac.decodeFlacPcm(flac).map { a =>
              val x = a.samples(0) // channels carry the same frame
              var sumAbs, sumSq = 0L
              var peak = 0L
              x.foreach { v =>
                sumAbs += math.abs(v.toLong); sumSq += v.toLong * v
                if (math.abs(v.toLong) > peak) peak = math.abs(v.toLong)
              }
              (docId, x.length.toLong, a.nFrames.toLong,
                a.channels.toLong, sumAbs, sumSq, peak,
                x.head.toLong, x.last.toLong)
            }
          }
        }
        .toDF("doc_id", "n_samples", "n_frames", "channels",
          "sum_abs", "sum_sq", "peak_abs", "first_v", "last_v")
    },

    // Voice-activity detection through the REAL audio path (mm_audio's
    // end-to-end discipline): per document a deterministic PCM signal
    // with alternating speech/silence regions (full-range LCG vs the
    // same samples crushed to ±511 by % 512) is encoded as a real WAV,
    // decoded back through Multimodal.decodeWav, framed at 16 samples,
    // energy-gated, and run-length segmented — the speech-segmentation
    // front of every audio-dataset pipeline. All-integer energies (the
    // 16-bit round-trip is exact), so the oracle recomputes everything
    // from the generator formula alone; regions are 4 frames wide, so
    // any off-by-one in decode, framing, or the islands grouping moves
    // a segment boundary and breaks the hash. Scale shape: decode is
    // partition-local flatMap; segmentation is one doc-keyed window.
    Q("mm_vad",
      """WITH d AS (SELECT doc_id, 256 + (doc_id % 40) * 16 AS n FROM documents),
        |s AS (SELECT doc_id, i,
        |    CASE WHEN ((i // 64 + doc_id) % 3) <> 2
        |         THEN ((doc_id % 65536) * 1103515245 + i * 12345) % 65536 - 32768
        |         ELSE (((doc_id % 65536) * 1103515245 + i * 12345) % 65536 - 32768) % 512
        |    END AS v
        |  FROM d, unnest(range(0, n)) AS t(i)),
        |f AS (SELECT doc_id, i // 16 AS fr, CAST(sum(v * v) AS BIGINT) AS e
        |  FROM s GROUP BY 1, 2),
        |a AS (SELECT doc_id, fr,
        |    fr - row_number() OVER (PARTITION BY doc_id ORDER BY fr) AS grp
        |  FROM f WHERE e > 100000000),
        |seg AS (SELECT doc_id, grp, count(*) AS len, min(fr) AS st
        |  FROM a GROUP BY 1, 2),
        |pd AS (SELECT doc_id, count(*) AS n_seg, max(len) AS max_run,
        |    CAST(sum(len) AS BIGINT) AS n_active, min(st) AS first_act
        |  FROM seg GROUP BY 1),
        |tot AS (SELECT doc_id, n // 16 AS n_frames FROM d)
        |SELECT tot.doc_id, CAST(n_frames AS BIGINT) AS n_frames,
        |  COALESCE(n_active, 0) AS n_active, COALESCE(n_seg, 0) AS n_seg,
        |  COALESCE(max_run, 0) AS max_run, COALESCE(first_act, -1) AS first_act
        |FROM tot LEFT JOIN pd ON tot.doc_id = pd.doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val raw = Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.flatMap { docId =>
            val n = 256 + (docId % 40).toInt * 16
            val pcm = Array.tabulate(n) { i =>
              val r = ((docId % 65536L) * 1103515245L + i * 12345L) % 65536L - 32768L
              val v = if ((i / 64 + docId) % 3 != 2) r else r % 512
              v.toShort
            }
            val wav = graft.streaming.Multimodal.encodeWavPcm16(8000, 1, pcm)
            graft.streaming.Multimodal.decodeWav(wav).map { case (_, _, _, mono) =>
              val energies = Array.tabulate(mono.length / 16) { fr =>
                var e = 0L
                var i = fr * 16
                while (i < fr * 16 + 16) {
                  val v = math.round(mono(i) * 32768) // exact: s/32768 dyadic
                  e += v * v
                  i += 1
                }
                e
              }
              (docId, energies)
            }
          }
        }.toDF("doc_id", "energies")
      val act = raw
        .select(col("doc_id"), posexplode(col("energies")).as(Seq("fr", "e")))
        .filter(col("e") > 100000000L)
        .withColumn("grp", col("fr").cast("long") - row_number().over(
          Window.partitionBy("doc_id").orderBy("fr")))
      val seg = act.groupBy("doc_id", "grp")
        .agg(count(lit(1)).as("len"), min(col("fr").cast("long")).as("st"))
      val perDoc = seg.groupBy("doc_id").agg(
        count(lit(1)).as("n_seg"), max(col("len")).as("max_run"),
        sum(col("len")).as("n_active"), min(col("st")).as("first_act"))
      raw.select(col("doc_id"), size(col("energies")).cast("long").as("n_frames"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_frames"),
          coalesce(col("n_active"), lit(0L)).as("n_active"),
          coalesce(col("n_seg"), lit(0L)).as("n_seg"),
          coalesce(col("max_run"), lit(0L)).as("max_run"),
          coalesce(col("first_act"), lit(-1L)).as("first_act"))
    },

    // Image near-dup pairing, end-to-end and BIT-EXACT — the multimodal
    // analog of dd_simhash_pairs: per document a deterministic 8×8
    // grayscale image is synthesized (LCG pixels; every doc_id ≡ 1 mod
    // 10 reuses its predecessor's pattern with one pixel shifted — a
    // built-in near-dup population), encoded as a REAL P6 PPM, decoded
    // back through the real pixel decoder, average-pool aHashed
    // (Multimodal.perceptualHashes — the production image-dedup path),
    // then paired by the same 4×16-bit banded join with a hamming
    // verify. The oracle recomputes the hash from the generator formula
    // alone, so any header, channel, pooling, threshold, or bit-packing
    // error in the codec path breaks the hash. The luma fold
    // (0.299v + 0.587v) + 0.114v, the ordered cell-mean sum, and the
    // integer bit packing are replayed exactly in SQL. Scale shape: one
    // scan computes 8 bytes/image; the banded self-join shuffles on
    // (band, 16-bit key) — never all-pairs.
    Q("mm_ahash_pairs",
      "WITH " + ahashBandsBody + """
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hamming
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 8""".stripMargin) {
      (s, dir) => ahashPairs(s, dir)
    },

    // Image near-dup CLUSTERS — the dedup ROI view of the mm_ahash_pairs
    // edges (which asset groups collapse to one keeper): connected
    // components over the banded-hamming pair graph, histogrammed by
    // cluster size. Same scale shape as dd_savings (size-dispatched CC;
    // the pair derivation is the shared tracked-cached chain), and the
    // oracle walks the SAME pair SQL plus a recursive closure.
    Q("mm_ahash_clusters",
      ("WITH " + ahashBandsBody + """,
        |prs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 8),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
        |          UNION SELECT doc_b, doc_a FROM prs),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |reach AS (SELECT node AS node, node AS r FROM nodes
        |          UNION
        |          SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src),
        |lab AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
        |alld AS (SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.node),
        |cl AS (SELECT cluster, count(*) AS sz FROM alld GROUP BY cluster)
        |SELECT sz AS cluster_size, count(*) AS n_clusters,
        |  CAST(sum(sz) AS BIGINT) AS n_docs
        |FROM cl GROUP BY sz""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE ")) { (s, dir) =>
      val pairs = ahashPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val lab = TextOps.connectedComponents(pairs)
      val alld = Tables.load(s, dir, "documents").select(col("doc_id"))
        .join(lab, col("doc_id") === col("node"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
      alld.groupBy("cluster").agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"))
    },

    // ISO-BMFF (MP4) container probe as a board row: per document a
    // minimal real MP4 is synthesized (ftyp; moov{mvhd timescale 1000 +
    // deterministic duration; trak{tkhd with 16.16 fixed-point dims}};
    // empty mdat) and walked back through Multimodal.probeVideo — the
    // REAL box walk with 64-bit largesize and corrupt-length guards the
    // specs fuzz. The oracle recomputes width/height/duration from the
    // generator formula alone, so any box-size arithmetic, version
    // offset, or fixed-point error breaks the hash. Row-local at any
    // scale (header walk, no pixel decode — codecs stay declared
    // out-of-scope).
    Q("mm_mp4_probe",
      """SELECT doc_id,
        |  CAST(160 + (doc_id % 8) * 80 AS INT) AS width,
        |  CAST(120 + (doc_id % 6) * 60 AS INT) AS height,
        |  1000 + doc_id % 9000 AS duration_ms
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.flatMap { id =>
            val dur = 1000 + (id % 9000)
            val w = (160 + (id % 8) * 80).toInt
            val h = (120 + (id % 6) * 60).toInt
            val bb = java.nio.ByteBuffer.allocate(16 + 8 + 108 + 8 + 92 + 8)
            bb.putInt(16).put("ftyp".getBytes("US-ASCII"))
              .put("isom".getBytes("US-ASCII")).putInt(0)
            bb.putInt(8 + 108 + 8 + 92).put("moov".getBytes("US-ASCII"))
            bb.putInt(108).put("mvhd".getBytes("US-ASCII"))
            bb.putInt(0) // version 0 + flags
            bb.putInt(0).putInt(0) // creation, modification
            bb.putInt(1000).putInt(dur.toInt) // timescale, duration
            bb.position(bb.position() + 108 - 8 - 20) // rest of mvhd zeros
            bb.putInt(8 + 92).put("trak".getBytes("US-ASCII"))
            bb.putInt(92).put("tkhd".getBytes("US-ASCII"))
            val tp = bb.position()
            bb.position(tp + 76)
            bb.putInt(w << 16).putInt(h << 16)
            bb.putInt(8).put("mdat".getBytes("US-ASCII"))
            graft.streaming.Multimodal.probeVideo(bb.array()).map { vi =>
              (id, vi.width, vi.height, math.round(vi.durationSec * 1000))
            }
          }
        }.toDF("doc_id", "width", "height", "duration_ms")
    },

    // MPEG-1 Layer III stream probe as a board row: per document a CBR
    // frame sequence is synthesized (ID3v2 prefix of doc-varying
    // syncsafe length, doc-varying non-sync junk before the first
    // frame, per-frame padding bit alternating — the three things real
    // MP3 walkers get wrong) and walked back through
    // Multimodal.probeMp3: ID3 skip, 11-bit resync, and the
    // 144*bitrate/samplerate+padding frame advance from ISO/IEC
    // 11172-3. The oracle recomputes frame count, CBR bitrate,
    // frame-byte total and exact sample-count duration from the
    // generator formula alone — a wrong bitrate table entry, a
    // padding-arithmetic slip, or an off-by-one in the ID3 syncsafe
    // decode breaks the hash. Row-local at any scale; Huffman payload
    // decode stays declared out of scope with the other perceptual
    // codecs.
    Q("mm_mp3_probe",
      """SELECT doc_id,
        |  CAST(5 + doc_id % 20 AS INT) AS n_frames,
        |  CAST([32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |       [CAST(doc_id % 14 AS INT) + 1] AS INT) AS bitrate_kbps,
        |  CAST([44100,48000,32000][CAST(doc_id % 3 AS INT) + 1] AS INT)
        |    AS sample_rate,
        |  CAST((5 + doc_id % 20) *
        |    (144 * [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
        |           [CAST(doc_id % 14 AS INT) + 1] * 1000
        |     // [44100,48000,32000][CAST(doc_id % 3 AS INT) + 1])
        |    + (5 + doc_id % 20) // 2 AS BIGINT) AS frame_bytes,
        |  CAST((5 + doc_id % 20) * 1152 * 1000
        |    // [44100,48000,32000][CAST(doc_id % 3 AS INT) + 1] AS BIGINT)
        |    AS duration_ms
        |FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          val bitrates = Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
            192, 224, 256, 320)
          val rates = Array(44100, 48000, 32000)
          it.flatMap { id =>
            val br = bitrates((id % 14).toInt)
            val sr = rates((id % 3).toInt)
            val n = (5 + id % 20).toInt
            val id3Body = (id % 50).toInt
            val junk = (id % 5).toInt
            val base = 144 * br * 1000 / sr
            val total = 10 + id3Body + junk +
              (0 until n).map(i => base + (i % 2)).sum
            val out = new java.io.ByteArrayOutputStream(total)
            out.write('I'.toInt); out.write('D'.toInt); out.write('3'.toInt)
            out.write(3); out.write(0); out.write(0) // ver 2.3, flags
            out.write((id3Body >> 21) & 0x7f); out.write((id3Body >> 14) & 0x7f)
            out.write((id3Body >> 7) & 0x7f); out.write(id3Body & 0x7f)
            (0 until id3Body).foreach(_ => out.write(0))
            (0 until junk).foreach(_ => out.write(0xAA)) // resync fodder
            (0 until n).foreach { i =>
              val padding = i % 2
              out.write(0xFF); out.write(0xFB) // sync + MPEG-1 Layer III
              out.write(((bitrates.indexOf(br) + 1) << 4) |
                ((id % 3).toInt << 2) | (padding << 1))
              out.write(0xC0)
              val len = base + padding
              (4 until len).foreach(j =>
                out.write(((id * 31 + i * 7 + j) % 251).toInt))
            }
            graft.streaming.Multimodal.probeMp3(out.toByteArray).map { mi =>
              (id, mi.frames, mi.bitrateKbps, mi.sampleRate, mi.frameBytes,
                mi.durationMs)
            }
          }
        }.toDF("doc_id", "n_frames", "bitrate_kbps", "sample_rate",
          "frame_bytes", "duration_ms")
    },

    // WARC ingest, end-to-end and BIT-EXACT: documents are grouped 50
    // to an archive, written as real ISO-28500 response records
    // (WARC headers + HTTP/1.1 block) with deterministic payloads, and
    // read back through the real record walk (Warc.records +
    // httpResponse — the Common-Crawl ingest path). The oracle
    // recomputes every field from the generator formula alone, and
    // rec_pos pins the WALK ORDER within each archive — a skipped
    // record, bad Content-Length arithmetic, or separator slip breaks
    // the hash. Scale shape: one shuffle onto archive groups, then
    // row-local parse — exactly how a crawl ingests (one task per
    // WARC file).
    Q("mm_warc",
      """WITH d AS (SELECT doc_id, doc_id // 50 AS gid, 40 + doc_id % 60 AS n
        |  FROM documents),
        |p AS (SELECT doc_id, gid,
        |    'doc-' || CAST(doc_id AS VARCHAR) || ':' ||
        |    array_to_string([chr(97 + CAST((doc_id * 7 + i * 13) % 26 AS INT))
        |                     for i in range(0, n)], '') AS body
        |  FROM d)
        |SELECT doc_id, gid,
        |  CAST(row_number() OVER (PARTITION BY gid ORDER BY doc_id) - 1 AS BIGINT)
        |    AS rec_pos,
        |  200 AS status, CAST(strlen(body) AS BIGINT) AS content_len,
        |  md5(body) AS body_md5
        |FROM p""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
        .groupByKey(_ / 50)
        .flatMapGroups { (gid: Long, it: Iterator[Long]) =>
          val ids = it.toArray.sorted
          val blob = ids.flatMap { id =>
            val n = (40 + id % 60).toInt
            val payload = new Array[Byte](("doc-" + id + ":").length + n)
            val pfx = s"doc-$id:".getBytes("US-ASCII")
            System.arraycopy(pfx, 0, payload, 0, pfx.length)
            var i = 0
            while (i < n) {
              payload(pfx.length + i) = (97 + ((id * 7 + i * 13) % 26)).toByte
              i += 1
            }
            graft.sources.Warc.encodeResponse(
              s"http://example.com/doc/$id", 200, payload)
          }
          val md = java.security.MessageDigest.getInstance("MD5")
          graft.sources.Warc.records(blob).zipWithIndex.flatMap { case (r, ix) =>
            graft.sources.Warc.httpResponse(r.block).map { h =>
              val id = r.headers("WARC-Target-URI").split("/").last.toLong
              md.reset()
              val hex = md.digest(h.body).map(b => f"$b%02x").mkString
              (id, gid, ix.toLong, h.status, h.body.length.toLong, hex)
            }
          }
        }
        .toDF("doc_id", "gid", "rec_pos", "status", "content_len", "body_md5")
    },

    // Video scene-cut detection, end-to-end and BIT-EXACT through the
    // real AVI path: per document a 6-frame 8x8 DIB AVI is synthesized
    // (one hard cut at frame 1 + doc_id%4 where the scene term of the
    // LCG pixel formula flips, plus small per-frame jitter), encoded
    // with encodeAviDib, decoded back through the REAL container walk +
    // bottom-up BI_RGB decode (Multimodal.aviFramePixels — the
    // production video-frame path), and adjacent frames are compared by
    // sum-of-absolute-differences; frames whose SAD exceeds 2000 are
    // cuts. The oracle recomputes SAD from the generator formula alone,
    // and wsum (index-weighted sum of the cut frame's decoded pixels)
    // is row-order sensitive — a missing bottom-up flip, stride slip,
    // or chunk-walk error anywhere breaks the hash. Row-local
    // mapPartitions, zero shuffles: at 100 TB scene-cut is one scan.
    Q("mm_scene_cut",
      """WITH d AS (SELECT doc_id, 1 + doc_id % 4 AS cf FROM documents),
        |px AS (SELECT doc_id, cf, f.f AS f, i.i AS i,
        |    ((doc_id % 256) * (i.i + 1) * 2654435761
        |     + (CASE WHEN f.f >= cf THEN 1 ELSE 0 END) * (i.i + 7) * 40503
        |     + f.f * ((i.i % 7) + 1)) % 256 AS v
        |  FROM d CROSS JOIN (SELECT unnest(range(0, 6)) AS f) f
        |       CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i),
        |sad AS (SELECT a.doc_id, a.f AS frame_idx,
        |    CAST(sum(abs(a.v - b.v)) AS BIGINT) AS sad,
        |    CAST(sum((a.i + 1) * a.v) AS BIGINT) AS wsum
        |  FROM px a JOIN px b ON a.doc_id = b.doc_id AND a.i = b.i AND b.f = a.f - 1
        |  GROUP BY a.doc_id, a.f)
        |SELECT doc_id, frame_idx, sad, wsum FROM sad WHERE sad > 2000""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.flatMap { id =>
            val cf = 1 + (id % 4).toInt
            val frames = (0 until 6).map { f =>
              val scene = if (f >= cf) 1L else 0L
              val payload = new Array[Byte](8 * 8 * 3)
              var row = 0
              while (row < 8) {
                var c = 0
                while (c < 8) {
                  val iTop = row * 8 + c // formula indexes TOP-DOWN pixels
                  val v = (((id % 256) * (iTop + 1) * 2654435761L +
                    scene * (iTop + 7) * 40503L +
                    f.toLong * ((iTop % 7) + 1)) % 256L).toInt
                  val off = ((7 - row) * 8 + c) * 3 // serialize bottom-up
                  payload(off) = v.toByte
                  payload(off + 1) = v.toByte
                  payload(off + 2) = v.toByte
                  c += 1
                }
                row += 1
              }
              payload
            }
            val avi = graft.streaming.Multimodal.encodeAviDib(8, 8, frames)
            val imgs = graft.streaming.Multimodal.aviFramePixels(avi)
            (1 until imgs.length).flatMap { f =>
              val a = imgs(f).pixels
              val b = imgs(f - 1).pixels
              var sad = 0L
              var wsum = 0L
              var i = 0
              while (i < 64) {
                val va = a(i * 3) & 0xff
                val vb = b(i * 3) & 0xff
                sad += math.abs(va - vb)
                wsum += (i + 1).toLong * va
                i += 1
              }
              if (sad > 2000) Some((id, f.toLong, sad, wsum)) else None
            }
          }
        }
        .toDF("doc_id", "frame_idx", "sad", "wsum")
    },

    // BM25 retrieval over the corpus for a fixed query — the ranking
    // stage of a retrieval/RAG pipeline. Exactness discipline: idf's
    // ln() is rounded to 6dp on both engines (the tx_zipf pattern), the
    // per-term scores share one IEEE expression tree, and the per-doc
    // sum goes through DECIMAL so term order can't perturb the total.
    // Plan shape at scale: the term filter prunes the posting explode to
    // the query's terms BEFORE any shuffle, df (|q| rows) and the corpus
    // stats (1 row) broadcast, and the only wide exchange carries
    // (doc_id, term) for the surviving postings — then one global top-k.
    Q("tx_bm25",
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |dl AS (SELECT doc_id, len(w) AS dl FROM w),
        |qt AS (SELECT doc_id, unnest(w) AS term FROM w),
        |q AS (SELECT doc_id, term FROM qt WHERE term IN ('vector', 'hash', 'stream')),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM q GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM q GROUP BY 1),
        |st AS (SELECT count(*) AS n,
        |    (SELECT CAST(SUM(dl) AS DOUBLE) FROM dl) / count(*) AS avgdl
        |  FROM documents),
        |sc AS (SELECT tf.doc_id,
        |    round(round(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1), 6)
        |      * (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / st.avgdl)))), 9) AS tsc
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
        |agg AS (SELECT doc_id, SUM(CAST(tsc AS DECIMAL(38,12))) AS score
        |  FROM sc GROUP BY doc_id)
        |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
        |  doc_id, round(CAST(score AS DOUBLE), 6) AS score
        |FROM agg ORDER BY score DESC, doc_id LIMIT 10""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      // One tokenize pass projected down to what BM25 actually consumes
      // (round-15, guide §2.3/§5): per doc its length and the query-term
      // occurrences only — the round-14 version cached the full tokenized
      // corpus (toks) plus the filtered explode, a multi-corpus-size
      // materialization at scale. `base` is (doc_id, int, <=3-distinct-term
      // array), tiny at any SF, and is the single cached frame.
      val base = docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("dl"),
          filter(TextOps.tokens(col("text")),
            t => t.isin("vector", "hash", "stream")).as("qw"))
        .transform(TextOps.trackCache)
      val dl = base.select(col("doc_id"), col("dl"))
      val tf = base.select(col("doc_id"), explode(col("qw")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // tf is distinct per (doc, term): per-term row count == distinct docs
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val st = base.agg(count(lit(1)).as("n"), sum("dl").cast("double").as("sdl"))
        .select(col("n"), (col("sdl") / col("n")).as("avgdl"))
      val idf = round(log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1)), 6)
      val tsc = round(idf * (col("tf") * lit(2.2)
        / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))), 9)
      tf.join(broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(st))
        .select(col("doc_id"), tsc.cast(DecimalType(38, 12)).as("tsc"))
        .groupBy("doc_id").agg(sum("tsc").as("score"))
        // TakeOrdered FIRST (per-partition heap + driver merge), THEN the
        // rank window over the 10 survivors — the unpartitioned window
        // over every scored doc funneled the corpus through one task
        // (the tx_zipf pattern; round-12 review)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select(col("rank"), col("doc_id"),
          round(col("score").cast("double"), 6).as("score"))
    },

    // End-to-end training-set selection: the composed pipeline a corpus
    // engineer actually runs — quality gate (tx_quality_gate's exact
    // predicate) → exact dedup keep-min (dd_exact's key) → stratified
    // deterministic sampling (q_stratified's rate table). Everything
    // row-local except ONE shuffle (the dedup-key window); the sample
    // decision is an md5 prefix compare, so the selected set is
    // reproducible across engines, reruns, and cluster sizes. At 100 TB
    // this is the shape that matters: no stage widens data, each stage
    // strictly filters, and the only exchange carries (key, doc_id).
    Q("pl_training_select",
      """WITH t AS (SELECT doc_id, lang, length(text) AS chars,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |q AS (SELECT doc_id, lang, w, chars, len(w) AS n_tokens,
        |    len(list_filter(w, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
        |      * 1.0 / len(w) AS stop_ratio
        |  FROM t WHERE len(w) > 0),
        |g AS (SELECT doc_id, lang, n_tokens, array_to_string(w[1:5], ' ') AS key
        |  FROM q WHERE n_tokens BETWEEN 20 AND 1000 AND stop_ratio >= 0.05
        |    AND chars * 1.0 / n_tokens <= 12),
        |d AS (SELECT doc_id, lang, n_tokens,
        |    row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rn FROM g)
        |SELECT doc_id, lang, n_tokens FROM d
        |WHERE rn = 1 AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
        |  CASE lang WHEN 'en' THEN '8' WHEN 'zh' THEN '4' WHEN 'es' THEN '4'
        |            WHEN 'de' THEN '2' ELSE '1' END""".stripMargin) { (s, dir) =>
      val stopSet = array(Seq("the", "a", "of", "and", "to", "in").map(lit): _*)
      val q = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), length(col("text")).as("chars"),
          TextOps.tokens(col("text")).as("w"))
        .withColumn("n_tokens", size(col("w")))
        .filter(col("n_tokens") > 0)
        .withColumn("stop_ratio",
          GraftFunctions.count_in_set(col("w"), stopSet) * lit(1.0) / col("n_tokens"))
      val gated = q.filter(
        col("n_tokens").between(20, 1000) && col("stop_ratio") >= 0.05 &&
          col("chars") * lit(1.0) / col("n_tokens") <= 12)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          array_join(slice(col("w"), 1, 5), " ").as("key"))
      val keeper = Window.partitionBy("key").orderBy("doc_id")
      val rate = when(col("lang") === "en", "8").when(col("lang") === "zh", "4")
        .when(col("lang") === "es", "4").when(col("lang") === "de", "2")
        .otherwise("1")
      gated
        .withColumn("rn", row_number().over(keeper))
        .filter(col("rn") === 1 &&
          substring(md5(col("doc_id").cast("string")), 1, 1) < rate)
        .select("doc_id", "lang", "n_tokens")
    },

    // Text canonicalization for dedup keys: NFC compose (native
    // NfcNormalize — Spark has no normalization built-in; the expression
    // stays inside whole-stage codegen and short-circuits on already-NFC
    // input) → casefold → punctuation strip → whitespace collapse → md5
    // key. Row-local, zero shuffles; the Unicode composition itself is
    // pinned by FunctionsSpec goldens (this corpus is ASCII, so here NFC
    // is the no-op fast path).
    Q("tx_normalize",
      """WITH c AS (SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS canon
        |  FROM documents)
        |SELECT doc_id, md5(canon) AS canon_key, length(canon) AS canon_len,
        |  CAST(canon <> text AS INT) AS changed
        |FROM c""".stripMargin) { (s, dir) =>
      val canon = trim(regexp_replace(regexp_replace(
        lower(GraftFunctions.nfc_normalize(col("text"))), "[^a-z0-9 ]", ""),
        " +", " "))
      Tables.load(s, dir, "documents")
        .withColumn("canon", canon)
        .select(col("doc_id"), md5(col("canon")).as("canon_key"),
          length(col("canon")).as("canon_len"),
          (col("canon") =!= col("text")).cast("int").as("changed"))
    },

    // Bigram PMI collocations: pointwise mutual information of adjacent
    // token pairs vs their unigram frequencies — the corpus-statistics op
    // behind multi-word-expression mining. Two hash-agg shuffles (word,
    // word-pair); the unigram table and the two scalar totals reach the
    // pair table by broadcast, so the corpus is never joined wide. The
    // count filter (>=5) keeps output O(vocab²) regardless of SF.
    Q("tx_pmi",
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS w FROM documents),
        |u AS (SELECT unnest(w) AS word FROM toks),
        |uc AS (SELECT word, count(*) AS n_w FROM u GROUP BY word),
        |tot AS (SELECT count(*) AS n_tok FROM u),
        |bg AS (SELECT [{'wa': w[i], 'wb': w[i+1]} for i in range(1, len(w))] AS ps
        |  FROM toks WHERE len(w) >= 2),
        |be AS (SELECT unnest(ps) AS p FROM bg),
        |bc AS (SELECT p.wa AS wa, p.wb AS wb, count(*) AS n_xy
        |  FROM be GROUP BY 1, 2),
        |nb AS (SELECT count(*) AS n_big FROM be)
        |SELECT wa || ' ' || wb AS bigram, n_xy, x.n_w AS n_x, y.n_w AS n_y,
        |  round(ln((n_xy * 1.0 * n_tok * n_tok) / (n_big * 1.0 * x.n_w * y.n_w)), 6) AS pmi
        |FROM bc CROSS JOIN tot CROSS JOIN nb
        |JOIN uc x ON x.word = bc.wa
        |JOIN uc y ON y.word = bc.wb
        |WHERE n_xy >= 5""".stripMargin) { (s, dir) =>
      val toks = Tables.load(s, dir, "documents")
        .select(TextOps.tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 1)
      // ONE corpus explode and ONE corpus-wide aggregate (round-15, guide
      // §2.3 "aggregate before you shuffle"): each token position emits
      // (word, next-word-or-null-at-doc-end), and every downstream
      // statistic derives from the (wa, wb) count table `full` — bounded
      // by the distinct-bigram vocabulary, not the corpus. The round-14
      // version instead cached the raw token/word/pair explodes, a
      // multi-corpus-size materialization at scale. Derivations:
      //   n_w(word) = sum(n) over wa = word (every position appears
      //               exactly once as wa),  n_tok = sum(all n),
      //   n_xy      = n of the non-null-wb rows (adjacent pairs),
      //   n_big     = sum(n) over non-null-wb rows.
      val pairsAll = toks.select(explode(zip_with(
          col("w"),
          concat(slice(col("w"), lit(2), size(col("w")) - 1),
            array(lit(null).cast("string"))),
          (a, b) => struct(a.as("wa"), b.as("wb")))).as("p"))
        .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
      val full = pairsAll.groupBy("wa", "wb").agg(count(lit(1)).as("n"))
        .transform(TextOps.trackCache)
      val uc = full.groupBy(col("wa").as("word")).agg(sum("n").as("n_w"))
        .transform(TextOps.trackCache)
      val tot = uc.agg(sum("n_w").as("n_tok"))
      val bc = full.filter(col("wb").isNotNull)
        .select(col("wa"), col("wb"), col("n").as("n_xy"))
        .filter(col("n_xy") >= 5)
      val nb = full.filter(col("wb").isNotNull).agg(sum("n").as("n_big"))
      bc.crossJoin(broadcast(tot)).crossJoin(broadcast(nb))
        .join(broadcast(uc.select(col("word").as("wa"), col("n_w").as("n_x"))), "wa")
        .join(broadcast(uc.select(col("word").as("wb"), col("n_w").as("n_y"))), "wb")
        .select(concat(col("wa"), lit(" "), col("wb")).as("bigram"),
          col("n_xy"), col("n_x"), col("n_y"),
          round(log((col("n_xy") * lit(1.0) * col("n_tok") * col("n_tok"))
            / (col("n_big") * lit(1.0) * col("n_x") * col("n_y"))), 6).as("pmi"))
    },

    // Per-document novelty: fraction of the doc's distinct 5-gram
    // shingles never seen in any earlier doc (doc_id = ingestion order) —
    // the freshness signal dedup-aware corpus curation ranks by. The
    // first-seen table is one gram-key agg; the join-back reuses the same
    // gram partitioning, and per-doc stats are the only other shuffle.
    Q("tx_novelty",
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS w FROM documents),
        |g AS (SELECT doc_id,
        |    list_distinct([array_to_string(w[i:i+4], ' ') for i in range(1, len(w)-3)]) AS gs
        |  FROM toks WHERE len(w) >= 5),
        |e AS (SELECT doc_id, unnest(gs) AS gram FROM g),
        |fs AS (SELECT gram, min(doc_id) AS first_seen FROM e GROUP BY gram)
        |SELECT e.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN fs.first_seen = e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  round(sum(CASE WHEN fs.first_seen = e.doc_id THEN 1 ELSE 0 END) * 1.0
        |        / count(*), 6) AS novelty
        |FROM e JOIN fs USING (gram) GROUP BY e.doc_id""".stripMargin) { (s, dir) =>
      // No corpus-wide join-back and no corpus-sized gram cache
      // (round-15, guide §2.4): grams are DISTINCT per doc (shingles), so
      //   n_novel(doc) = |{grams whose min(doc_id) == doc}|
      //                = the first-seen table grouped by its OWN value,
      //   n_grams(doc) = size(gs) row-locally.
      // The old plan cached the corpus-sized gram explode and reshuffled
      // it through a gram-keyed join; now the only gram-scale work is the
      // one first-seen aggregate, and the final join is doc-sized both
      // sides. Docs with zero novel grams coalesce to 0 exactly as the
      // inner join's sum-of-zeros did.
      val g = Tables.load(s, dir, "documents")
        .withColumn("w", TextOps.tokens(col("text")))
        .filter(size(col("w")) >= 5)
        .select(col("doc_id"), TextOps.shingles(col("w"), 5).as("gs"))
      val fs = g.select(col("doc_id"), explode(col("gs")).as("gram"))
        .groupBy("gram").agg(min("doc_id").as("first_seen"))
      val novel = fs.groupBy(col("first_seen").as("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      g.select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"))
        .join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          round(coalesce(col("n_novel"), lit(0L)) * lit(1.0) / col("n_grams"), 6)
            .as("novelty"))
    },

    // Curriculum assignment: per language, rank documents by a
    // deterministic difficulty score (mean token length — longer words,
    // harder text), cut into 4 stages (easy→hard quartiles) and number
    // each doc's position within its stage — the ordering a
    // curriculum-learning data loader consumes. Per-language windows
    // keep every sort partitioned (a global curriculum would need a
    // single-partition sort); ties break on doc_id so both engines
    // bucket identically.
    Q("pl_curriculum",
      """WITH t AS (SELECT doc_id, lang, length(text) AS chars,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
        |  FROM documents),
        |d AS (SELECT doc_id, lang,
        |    round(chars * 1.0 / n_tokens, 6) AS difficulty
        |  FROM t WHERE n_tokens > 0),
        |st AS (SELECT doc_id, lang, difficulty,
        |    ntile(4) OVER (PARTITION BY lang ORDER BY difficulty, doc_id) AS stage
        |  FROM d)
        |SELECT doc_id, lang, difficulty, stage,
        |  row_number() OVER (PARTITION BY lang, stage
        |    ORDER BY difficulty, doc_id) AS pos_in_stage
        |FROM st""".stripMargin) { (s, dir) =>
      // two-level rendering (lang has ~5 values regardless of corpus
      // size — see pl_pack): rank via Ranks.bucketedRank with an
      // order-consistent difficulty bucket, then ntile(4) and
      // pos_in_stage DERIVED from (rnk, n) with the standard ntile
      // sizing — the first (n mod 4) tiles get ceil(n/4) rows — which
      // is exactly what Spark's and DuckDB's ntile compute, so the
      // rendering is bit-equal to the window oracle without any
      // per-language whole-partition sort.
      val d = TextOps.trackCache(Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), length(col("text")).as("chars"),
          size(TextOps.tokens(col("text"))).as("n_tokens"))
        .filter(col("n_tokens") > 0)
        .select(col("doc_id"), col("lang"),
          round(col("chars") * lit(1.0) / col("n_tokens"), 6).as("difficulty"))
        .withColumn("__bkt", floor(col("difficulty") * 16).cast("long")))
      val ranked = Ranks.bucketedRank(d, Seq("lang"), "__bkt",
        Seq(col("difficulty"), col("doc_id")), "rnk")
      val nLang = d.groupBy("lang").agg(count(lit(1)).as("__n"))
      val big = expr("__n div 4") + 1 // ceil size while remainder lasts
      val q = expr("__n div 4")
      val r = col("__n") % 4
      val stage = when(col("rnk") <= r * big,
          expr("(rnk - 1) div ((__n div 4) + 1)") + 1)
        .otherwise(r + 1 + expr(
          "(rnk - (__n % 4) * ((__n div 4) + 1) - 1) div (__n div 4)"))
      val start = when(col("stage") - 1 <= r, (col("stage") - 1) * big + 1)
        .otherwise(r * big + (col("stage") - 1 - r) * q + 1)
      ranked.join(broadcast(nLang), Seq("lang"))
        .withColumn("stage", stage.cast("int"))
        .withColumn("pos_in_stage", (col("rnk") - start + 1).cast("int"))
        .select(col("doc_id"), col("lang"), col("difficulty"),
          col("stage"), col("pos_in_stage"))
    },

    // Sequence packing: per language, documents are concatenated in
    // doc_id order and 2048-token context windows are cut from the
    // stream — each doc's pack_id/start_off say which window its first
    // token lands in and where (docs may straddle boundaries, exactly as
    // GPT-style packing does). The map a training data loader needs to
    // emit packed sequences. All-integer arithmetic (token counts,
    // prefix sums, floor division), so the row is hash-exact with no
    // rounding discipline. One shuffle: the per-lang prefix-sum window —
    // at 100 TB packing is a partitioned sorted scan, never a collect.
    Q("pl_pack",
      """WITH t AS (SELECT doc_id, lang,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - n_tokens AS strt
        |  FROM t WHERE n_tokens > 0)
        |SELECT doc_id, lang, n_tokens, strt // 2048 AS pack_id,
        |  strt - (strt // 2048) * 2048 AS start_off
        |FROM c""".stripMargin) { (s, dir) =>
      val t = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .filter(col("n_tokens") > 0)
      // two-level prefix sum (Ranks.bucketedPrefixSum), NOT a window
      // partitioned by lang alone: lang has ~5 values regardless of
      // corpus size, so the naive running sum serializes 1/5 of all
      // documents through one sort task per language at 100x — the
      // straggler pattern bucketedRank was extracted for. doc_id's high
      // bits are the order-consistent bucket; result is bit-equal to
      // the oracle's window.
      Ranks.bucketedPrefixSum(
          t.withColumn("__bkt", expr("doc_id div 16384")),
          Seq("lang"), "__bkt", "n_tokens", Seq(col("doc_id")), "__csum")
        .withColumn("strt", col("__csum") - col("n_tokens"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          expr("strt div 2048").as("pack_id"),
          (col("strt") - expr("strt div 2048") * 2048).as("start_off"))
    },

    // Length-bucketed batching audit — the padding-efficiency table a
    // dynamic-batching loader is tuned against (pl_pack's packing
    // alternative): docs bucketed to power-of-2 token caps, per bucket
    // the real tokens vs the padding burned if every doc pads to the
    // cap. All-integer (the bucket edges are a fixed CASE ladder, no
    // log2 libm), so the ratios are exact; one row-local projection +
    // one tiny aggregate at any scale.
    Q("pl_length_buckets",
      """WITH t AS (SELECT doc_id,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
        |  FROM documents),
        |b AS (SELECT doc_id, n,
        |    CASE WHEN n <= 8 THEN 8 WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
        |         WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128 ELSE 256 END AS cap
        |  FROM t WHERE n > 0)
        |SELECT cap, count(*) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS tokens_total,
        |  CAST(sum(cap - n) AS BIGINT) AS padding_waste,
        |  round(sum(cap - n) * 1.0 / sum(cap), 6) AS waste_r
        |FROM b GROUP BY cap""".stripMargin) { (s, dir) =>
      val t = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n"))
        .filter(col("n") > 0)
      val cap = when(col("n") <= 8, 8L).when(col("n") <= 16, 16L)
        .when(col("n") <= 32, 32L).when(col("n") <= 64, 64L)
        .when(col("n") <= 128, 128L).otherwise(256L)
      t.withColumn("cap", cap)
        .groupBy("cap")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens_total"),
          sum(col("cap") - col("n")).as("padding_waste"),
          round(sum(col("cap") - col("n")) * lit(1.0) /
            sum(col("cap")), 6).as("waste_r"))
    },

    // Deterministic epoch shuffle: the training loader's per-epoch
    // permutation and shard assignment, derived purely from
    // md5(epoch:doc_id) so every rerun (and every engine) deals the
    // same order — no RNG state to ship. Per (epoch, shard): the doc
    // count and an ORDER-SENSITIVE permutation checksum,
    // sum(rank * (doc_id % 1000003)) mod 1e9+7 over the within-shard
    // rank — any transposition of two docs changes it, so the 12-row
    // result pins every shard's full deal order. The checksum is a
    // rank window + a commutative DECIMAL-accumulated sum (exact and
    // order-independent to compute), NOT a string-agg of the whole
    // shard — one reducer never holds a shard's permutation, which is
    // what keeps the row honest at 100 TB. Row-local hashing, one
    // shard-partitioned window, one hash agg.
    Q("pl_epoch_shuffle",
      """WITH t AS (SELECT e.epoch, d.doc_id,
        |    list_reduce(list_transform(range(1, 8),
        |      i -> CAST(strpos('0123456789abcdef',
        |             substr(md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)),
        |                    CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |      (a, x) -> a * 16 + x) AS hv
        |  FROM documents d CROSS JOIN (SELECT unnest([0, 1, 2]) AS epoch) e),
        |s AS (SELECT epoch, doc_id, hv, hv % 4 AS shard FROM t),
        |r AS (SELECT epoch, shard, doc_id,
        |    row_number() OVER (PARTITION BY epoch, shard ORDER BY hv, doc_id) AS rn
        |  FROM s)
        |SELECT epoch, shard, count(*) AS n_docs,
        |  CAST(CAST(sum(CAST(rn * (doc_id % 1000003) AS DECIMAL(28,0))) AS DECIMAL(38,0))
        |       % 1000000007 AS BIGINT) AS perm_check
        |FROM r GROUP BY epoch, shard""".stripMargin) { (s, dir) =>
      import s.implicits._
      val epochs = broadcast(Seq(0, 1, 2).toDF("epoch"))
      // Two-level distributed rank (round-9 10x sweep: the naive
      // per-(epoch, shard) row_number window has only 12 partitions, so
      // one executor sorted the whole epoch — 30x wall at 10x data, and
      // at corpus scale a guaranteed straggler). hv's high bits are order-
      // consistent with hv, so rank(hv, doc_id) = count of rows in lower
      // hv-buckets (a metadata-scale 3072-row offsets table, broadcast
      // back) + row_number within the (epoch, shard, bucket) — 3072
      // bounded sorts instead of 12 unbounded ones. Output identical.
      val base = Tables.load(s, dir, "documents").select("doc_id")
        .crossJoin(epochs)
        .withColumn("hv", conv(substring(md5(concat(
          col("epoch").cast("string"), lit(":"), col("doc_id").cast("string"))),
          1, 7), 16, 10).cast("long"))
        .withColumn("shard", col("hv") % 4)
        .withColumn("bkt", (col("hv") / 1048576L).cast("long")) // hv >> 20
      graft.operators.Ranks.bucketedRank(base, Seq("epoch", "shard"), "bkt",
          Seq(col("hv"), col("doc_id")), "rn")
        .groupBy("epoch", "shard")
        .agg(count(lit(1)).as("n_docs"),
          (sum((col("rn") * (col("doc_id") % 1000003))
            .cast(DecimalType(28, 0))).cast(DecimalType(38, 0)) % 1000000007)
            .cast("long").as("perm_check"))
    },

    // Balanced shard assignment for training-data output (the
    // webdataset/TFRecord shard-writing step): serpentine
    // (boustrophedon) allocation — rank documents by size descending,
    // deal rank r to shard r%N on even passes and N-1-r%N on odd
    // passes — the deterministic relational stand-in for greedy
    // first-fit-decreasing (FFD is inherently sequential; serpentine
    // gets within a largest-item of its balance and replays exactly).
    // The global size rank uses the two-level bucketed rank, never a
    // single-partition window; the oracle states the plain row_number
    // (pinned equivalent, RanksSpec).
    Q("pl_shard_balance",
      """WITH r AS (SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS r0
        |  FROM documents)
        |SELECT CAST(CASE WHEN (r0 // 8) % 2 = 0 THEN r0 % 8
        |                 ELSE 7 - (r0 % 8) END AS INT) AS shard,
        |  count(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_doc,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_doc
        |FROM r GROUP BY 1""".stripMargin) { (s, dir) =>
      val base = Tables.load(s, dir, "documents")
        .select("doc_id", "n_chars")
        // order-consistent coarse bucket for the DESC size sort
        .withColumn("bkt", -(col("n_chars") / 16).cast("long"))
      val ranked = graft.operators.Ranks.bucketedRank(base, Seq.empty, "bkt",
          Seq(col("n_chars").desc, col("doc_id")), "rn")
        .withColumn("r0", col("rn") - 1)
      ranked
        .groupBy(when(((col("r0") / 8).cast("long") % 2) === 0,
            col("r0") % 8)
          .otherwise(lit(7) - (col("r0") % 8)).cast("int").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          max(col("n_chars")).as("max_doc"),
          min(col("n_chars")).as("min_doc"))
    },

    // Inverted-index build with champion lists (Manning et al., IIR
    // §7.1.3): per term, document frequency, total term frequency, and
    // the top-16 postings by (tf DESC, doc_id) rendered "doc:tf,..." —
    // the truncated posting lists web-scale query engines serve hot.
    // Postings order inside the string is part of the hash row, so the
    // rank window and the string-agg ordering are pinned cross-engine.
    // Scale: one (term, doc) shuffle with map-side partial agg, then a
    // SALTED two-phase top-k — local top-16 per (term, doc_id%32)
    // partition, global top-16 over the <=32*16 survivors per term
    // (lossless: the global top-16 is a subset of every salt's top-16).
    // A plain term-partitioned window collapses a hot term's whole
    // posting list into one task — measured 77x for 10x data on this
    // fixture's 31-term vocabulary; the salted plan is 10x/10x. The
    // champion cut bounds output per term no matter how large the
    // corpus; full posting lists would be emitted partitioned-by-term.
    Q("tx_inverted_index",
      """WITH e AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), x->x<>'')) AS term
        |  FROM documents),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM e GROUP BY term, doc_id),
        |r AS (SELECT term, doc_id, tf,
        |    row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rn FROM tf),
        |a AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf FROM tf GROUP BY term),
        |ch AS (SELECT term,
        |    string_agg(doc_id || ':' || tf, ',' ORDER BY tf DESC, doc_id) AS champions
        |  FROM r WHERE rn <= 16 GROUP BY term)
        |SELECT term, df, total_tf, champions FROM a JOIN ch USING (term)""".stripMargin) {
      (s, dir) =>
      val tf = Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        .transform(TextOps.trackCache)
      val localRn = row_number().over(
        Window.partitionBy(col("term"), col("doc_id") % 32)
          .orderBy(col("tf").desc, col("doc_id")))
      val rn = row_number().over(
        Window.partitionBy("term").orderBy(col("tf").desc, col("doc_id")))
      val a = tf.groupBy("term")
        .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"))
      val ch = tf.withColumn("lrn", localRn).filter(col("lrn") <= 16)
        .withColumn("rn", rn).filter(col("rn") <= 16)
        .groupBy("term")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("rn"),
            concat_ws(":", col("doc_id"), col("tf")).as("p")))),
          x => x.getField("p")), ",").as("champions"))
      a.join(ch, "term")
    },

    // Distributed BPE merge-pair learning (Sennrich et al. 2016): the
    // first 10 merge rules of a byte-pair tokenizer trained on corpus
    // word frequencies. The oracle replays the trainer exactly —
    // self-delimiting ';'-suffixed symbols, literal replace as the merge
    // rule, (cnt DESC, a, b) argmax — one unrolled CTE pair per
    // iteration. At sf0.01 iterations 6 and 10 compose earlier merges
    // (m+er -> mer, p+ar -> par), so the row is sensitive to merge-rule
    // application, not just pair counting. Scale: corpus scanned once
    // into the vocab-sized word table; see TextOps.bpeMerges.
    Q("tx_bpe_merges", bpeOracle(10, encode = false)) { (s, dir) =>
      TextOps.bpeMerges(Tables.load(s, dir, "documents"), "text", iters = 10)
    },

    // Encode-side twin of tx_bpe_merges: apply the 10 learned rules and
    // report the tokenizer drop's corpus stats — vocabulary size, word
    // and char volumes, post-merge token count, chars-per-token. The
    // oracle extends the trainer CTE chain one more merge stage and
    // folds the fully-merged symbol strings; everything is exact
    // integers except the final 6dp ratio.
    Q("tx_bpe_encode", bpeOracle(10, encode = true)) { (s, dir) =>
      TextOps.bpeEncodeStats(Tables.load(s, dir, "documents"), "text", iters = 10)
    },

    // Per-language tokenizer fertility under the GLOBAL merge rules —
    // the multilingual-equity metric (a shared vocabulary that costs
    // one language 1.4 tokens/word and another 1.1 skews effective
    // context length and training mix). The oracle applies all 10
    // learned rules as nested replaces to each language's word table.
    Q("tx_bpe_fertility", bpeFertilityOracle(10)) { (s, dir) =>
      TextOps.bpeFertilityByLang(Tables.load(s, dir, "documents"),
        "text", "lang", iters = 10)
    },

    // HTML extraction — the step between WARC ingest (mm_warc) and the
    // text pipeline: per document a deterministic HTML page is
    // synthesized from its words (every 5th word becomes a link, every
    // 7th bold), then the REAL extraction path runs — tag-strip via
    // regexp_replace, link harvest via regexp_extract_all — and the
    // oracle rebuilds the same page with the same indexed-comprehension
    // and extracts with the same regexes ('g' flag on the DuckDB side,
    // where replace is first-match by default). Purely row-local: at
    // 100 TB this is a scan-parallel projection, no shuffle at all.
    Q("tx_html_extract",
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS w FROM documents),
        |html AS (SELECT doc_id,
        |    '<html><body>' || array_to_string(
        |      [CASE WHEN (i - 1) % 5 = 0
        |            THEN '<a href="http://' || w[i] || '.example">' || w[i] || '</a>'
        |            WHEN (i - 1) % 7 = 0 THEN '<b>' || w[i] || '</b>'
        |            ELSE w[i] END
        |       for i in range(1, len(w) + 1)], ' ') || '</body></html>' AS page
        |  FROM toks),
        |x AS (SELECT doc_id, page,
        |    regexp_extract_all(page, '<a href="([^"]*)">', 1) AS hrefs,
        |    regexp_replace(page, '<[^>]*>', '', 'g') AS stripped
        |  FROM html)
        |SELECT doc_id,
        |  CAST(len(hrefs) AS INT) AS n_links,
        |  CAST(len(regexp_extract_all(page, '<b>', 0)) AS INT) AS n_bold,
        |  CAST(length(stripped) AS INT) AS stripped_chars,
        |  COALESCE(hrefs[1], '') AS first_href
        |FROM x""".stripMargin) { (s, dir) =>
      val w = TextOps.tokens(col("text"))
      val page = concat(lit("<html><body>"),
        array_join(transform(w, (wd, i) =>
          when(i % 5 === 0,
            concat(lit("<a href=\"http://"), wd, lit(".example\">"), wd, lit("</a>")))
            .when(i % 7 === 0, concat(lit("<b>"), wd, lit("</b>")))
            .otherwise(wd)), " "),
        lit("</body></html>"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), page.as("page"))
        .withColumn("hrefs",
          regexp_extract_all(col("page"), lit("<a href=\"([^\"]*)\">"), lit(1)))
        .withColumn("stripped", regexp_replace(col("page"), "<[^>]*>", ""))
        .select(col("doc_id"),
          size(col("hrefs")).as("n_links"),
          size(regexp_extract_all(col("page"), lit("<b>"), lit(0))).as("n_bold"),
          length(col("stripped")).as("stripped_chars"),
          coalesce(element_at(col("hrefs"), 1), lit("")).as("first_href"))
    },

    // Content-defined chunking (the FastCDC/LBFS idea at word
    // granularity): a chunk boundary falls wherever the WORD's hash is
    // 0 mod 8, so two documents sharing a long span re-synchronize at
    // the first content boundary inside the span and all following
    // shared chunks fingerprint identically regardless of offset — the
    // dedup property fixed-size blocks lack. Fingerprint = sum of
    // (relative-position x word-hash) — order-sensitive but
    // aggregation-order-independent, so no reducer ever holds a chunk's
    // words. One positional explode + ONE window pass keyed on doc_id
    // (boundary id AND chunk start both ride the same running window —
    // no second shuffle), then a (fp, len) group: the whole operator is
    // two shuffles at any scale. Output: every chunk shape that occurs
    // more than once corpus-wide, with its occurrence and distinct-doc
    // counts and keeper doc.
    Q("tx_cdc_chunks",
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS w FROM documents),
        |e AS (SELECT doc_id,
        |    unnest([{'p': i - 1, 'wd': w[i]} for i in range(1, len(w) + 1)]) AS s
        |  FROM toks),
        |h AS (SELECT doc_id, s.p AS p, list_reduce(list_transform(range(1, 9),
        |      i -> CAST(strpos('0123456789abcdef',
        |             substr(md5(s.wd), CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |      (a, x) -> a * 16 + x) AS hb
        |  FROM e),
        |b AS (SELECT doc_id, p, hb,
        |    CASE WHEN p = 0 OR hb % 8 = 0 THEN 1 ELSE 0 END AS bd FROM h),
        |ch AS (SELECT doc_id, p, hb,
        |    sum(bd) OVER (PARTITION BY doc_id ORDER BY p) AS cid,
        |    max(CASE WHEN bd = 1 THEN p END)
        |      OVER (PARTITION BY doc_id ORDER BY p) AS cstart
        |  FROM b),
        |fp AS (SELECT doc_id, cid,
        |    CAST(sum((p - cstart + 1) * (hb % 1000000)) AS BIGINT) AS fp,
        |    count(*) AS len
        |  FROM ch GROUP BY doc_id, cid)
        |SELECT fp, len, count(*) AS n_occ,
        |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keeper
        |FROM fp GROUP BY fp, len HAVING count(*) > 1""".stripMargin) { (s, dir) =>
      val words = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("p", "wd")))
        .withColumn("hb", conv(substring(md5(col("wd")), 1, 8), 16, 10).cast("long"))
        .withColumn("bd",
          when(col("p") === 0 || col("hb") % 8 === 0, 1).otherwise(0))
      val run = Window.partitionBy("doc_id").orderBy("p")
      val chunks = words
        .withColumn("cid", sum(col("bd")).over(run))
        .withColumn("cstart",
          max(when(col("bd") === 1, col("p"))).over(run))
        .groupBy("doc_id", "cid")
        .agg(sum((col("p") - col("cstart") + 1) * (col("hb") % 1000000)).as("fp"),
          count(lit(1)).as("len"))
      chunks.groupBy("fp", "len")
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("keeper"))
        .filter(col("n_occ") > 1)
    },

    // Winnowing fingerprint selection (Schleimer-Wilkerson-Aiken 2003 —
    // the MOSS algorithm): hash every positional word 3-gram, slide a
    // window of 4 consecutive hashes, keep the RIGHTMOST MINIMUM of each
    // window. Winnowing guarantees any shared run of >= w+k-1 tokens
    // between two documents shares a selected fingerprint (the property
    // plain modular sampling lacks), at expected density 2/(w+1). Both
    // the window min and the rightmost tie-break ride ONE lexicographic
    // struct-min over (hash, -pos) — a single sort-window per doc, no
    // self-join; everything else is row-local, so the op scales with the
    // corpus like any per-doc projection. Output is per-doc selection
    // stats plus an order-independent position-weighted checksum — a
    // change to any single selected (pos, hash) breaks the hash.
    Q("tx_winnow",
      s"""WITH $winnowCtes
        |SELECT doc_id, ng AS n_grams, count(*) AS n_fp,
        |  count(DISTINCT hv) AS n_hash,
        |  CAST(sum((sp + 1) * (hv % 1000000)) AS BIGINT) AS fp_checksum,
        |  round(count(*) * 1.0 / (ng - 3), 6) AS density
        |FROM sel GROUP BY doc_id, ng""".stripMargin) { (s, dir) =>
      winnowSelected(s, dir).groupBy("doc_id", "ng")
        .agg(count(lit(1)).as("n_fp"), countDistinct(col("hv")).as("n_hash"),
          sum((col("sp") + 1) * (col("hv") % 1000000)).as("fp_checksum"),
          round(count(lit(1)).cast("double") / (col("ng") - 3), 6).as("density"))
        .select(col("doc_id"), col("ng").as("n_grams"), col("n_fp"),
          col("n_hash"), col("fp_checksum"), col("density"))
    },

    // URL canonicalization + dedup — the first pass of every web-corpus
    // pipeline (a CommonCrawl snapshot holds the same page under
    // scheme-case, www, default-port, param-order, tracking-param,
    // fragment and trailing-slash variants). Raw URLs are synthesized
    // deterministically per doc (md5-digit-driven variants around a
    // (host, path) identity), then canonicalized by a REAL generic
    // chain: strip fragment; lowercase scheme+host; drop 'www.'; drop
    // the scheme's default port; strip trailing slash; drop
    // utm_*/fbclid/gclid/msclkid params; sort surviving params. Every
    // step is a row-local regexp/array builtin (codegen, no UDF); the
    // only exchange is the final canonical-key aggregate, so the op
    // scales exactly like exact dedup. Output: per canonical URL the
    // cluster size, distinct raw variants and keeper doc.
    Q("tx_url_canon",
      """WITH raw AS (SELECT doc_id,
        |    (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) < '8' THEN 'https' ELSE 'HTTPS' END)
        |    || '://'
        |    || (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),3,1) < '8'
        |          THEN upper((CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),2,1) < '8' THEN 'www.' ELSE '' END)
        |                     || 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com')
        |          ELSE (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),2,1) < '8' THEN 'www.' ELSE '' END)
        |               || 'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' END)
        |    || (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),7,1) < '4' THEN ':443' ELSE '' END)
        |    || '/p/' || CAST(doc_id % 40 AS VARCHAR)
        |    || (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),6,1) < '8' THEN '/' ELSE '' END)
        |    || '?'
        |    || (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),4,1) < '8'
        |          THEN 'page=2&ref=home' ELSE 'ref=home&page=2' END)
        |    || (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),5,1) < '8'
        |          THEN '&utm_source=' || source ELSE '' END)
        |    || (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),8,1) < '8'
        |          THEN '&fbclid=' || substr(md5(CAST(doc_id AS VARCHAR)),9,6) ELSE '' END)
        |    || (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),15,1) < '8' THEN '#top' ELSE '' END)
        |    AS url FROM documents),
        |parts AS (SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS hostport,
        |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path0,
        |    regexp_extract(url, '\?([^#]*)', 1) AS q0
        |  FROM raw),
        |np AS (SELECT doc_id, url, scheme,
        |    regexp_replace(
        |      CASE WHEN hostport LIKE 'www.%' THEN substr(hostport, 5) ELSE hostport END,
        |      CASE WHEN scheme = 'https' THEN ':443$' ELSE ':80$' END, '') AS host,
        |    CASE WHEN path0 = '' THEN '/'
        |         WHEN len(path0) > 1 AND path0 LIKE '%/'
        |           THEN substr(path0, 1, len(path0) - 1)
        |         ELSE path0 END AS path,
        |    array_to_string(list_sort(list_filter(string_split(q0, '&'),
        |      p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|msclkid)='))), '&') AS q
        |  FROM parts),
        |canon AS (SELECT doc_id, url,
        |    scheme || '://' || host || path ||
        |      (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canon_url,
        |    host FROM np)
        |SELECT canon_url, host, count(*) AS n_urls,
        |  count(DISTINCT url) AS n_raw, min(doc_id) AS keeper
        |FROM canon GROUP BY canon_url, host""".stripMargin) { (s, dir) =>
      val md = md5(col("doc_id").cast("string"))
      def d(i: Int) = substring(md, i, 1)
      val hostRaw = concat(
        when(d(2) < "8", lit("www.")).otherwise(lit("")),
        lit("h"), (col("doc_id") % 7).cast("string"), lit(".example.com"))
      val raw = Tables.load(s, dir, "documents").select(col("doc_id"), concat(
        when(d(1) < "8", lit("https")).otherwise(lit("HTTPS")), lit("://"),
        when(d(3) < "8", upper(hostRaw)).otherwise(hostRaw),
        when(d(7) < "4", lit(":443")).otherwise(lit("")),
        lit("/p/"), (col("doc_id") % 40).cast("string"),
        when(d(6) < "8", lit("/")).otherwise(lit("")),
        lit("?"),
        when(d(4) < "8", lit("page=2&ref=home")).otherwise(lit("ref=home&page=2")),
        when(d(5) < "8", concat(lit("&utm_source="), col("source"))).otherwise(lit("")),
        when(d(8) < "8", concat(lit("&fbclid="), substring(md, 9, 6))).otherwise(lit("")),
        when(d(15) < "8", lit("#top")).otherwise(lit(""))).as("url"))
      val parts = raw.select(col("doc_id"), col("url"),
        lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1)).as("scheme"),
        lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1)).as("hostport"),
        regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1).as("path0"),
        regexp_extract(col("url"), "\\?([^#]*)", 1).as("q0"))
      val np = parts.select(col("doc_id"), col("url"), col("scheme"),
        regexp_replace(
          when(col("hostport").startsWith("www."), expr("substring(hostport, 5)"))
            .otherwise(col("hostport")),
          when(col("scheme") === "https", lit(":443$")).otherwise(lit(":80$")),
          lit("")).as("host"),
        when(col("path0") === "", lit("/"))
          .when(length(col("path0")) > 1 && col("path0").endsWith("/"),
            expr("substring(path0, 1, length(path0) - 1)"))
          .otherwise(col("path0")).as("path"),
        array_join(array_sort(expr(
          "filter(split(q0, '&'), p -> p != '' AND NOT p rlike '^(utm_[^=]*|fbclid|gclid|msclkid)=')")),
          "&").as("q"))
      np.select(col("doc_id"), col("url"), col("host"),
          concat(col("scheme"), lit("://"), col("host"), col("path"),
            when(col("q") === "", lit("")).otherwise(concat(lit("?"), col("q"))))
            .as("canon_url"))
        .groupBy("canon_url", "host")
        .agg(count(lit(1)).as("n_urls"), countDistinct(col("url")).as("n_raw"),
          min(col("doc_id")).as("keeper"))
    },

    // RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    // maximal stopword-free token runs; every word scores
    // deg(w)/freq(w) over the CORPUS phrase table (deg = summed length
    // of containing phrases — co-occurrence mass; freq = occurrences),
    // a phrase scores the sum of its words' scores, and each document
    // keeps its top-3 phrases. Scores are integer parts-per-million
    // (deg*1e6 div freq) so the ranking replays exactly — no float
    // division anywhere. Shapes: run segmentation is one per-doc window
    // (running stopword count), the word-stat table is a bounded-key
    // hash agg joined back by word, and the top-3 is a per-doc window
    // over few candidate phrases — all bounded shuffles at corpus scale.
    Q("tx_keyword_rake",
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |e AS (SELECT doc_id,
        |    unnest([{'p': i - 1, 'wd': w[i]} for i in range(1, len(w) + 1)]) AS s
        |  FROM t),
        |b AS (SELECT doc_id, s.p AS p, s.wd AS wd,
        |    CASE WHEN s.wd IN ('the','a','of','and','to','in') THEN 1 ELSE 0 END AS st
        |  FROM e),
        |r AS (SELECT doc_id, p, wd, st,
        |    sum(st) OVER (PARTITION BY doc_id ORDER BY p) AS pid
        |  FROM b),
        |ph AS (SELECT doc_id, pid,
        |    string_agg(wd, ' ' ORDER BY p) AS phrase, count(*) AS plen
        |  FROM r WHERE st = 0 GROUP BY doc_id, pid),
        |occ AS (SELECT r.doc_id, r.pid, r.wd, ph.plen
        |  FROM r JOIN ph ON r.doc_id = ph.doc_id AND r.pid = ph.pid
        |  WHERE r.st = 0),
        |ws AS (SELECT wd, count(*) AS freq, CAST(sum(plen) AS BIGINT) AS deg
        |  FROM occ GROUP BY wd),
        |sc AS (SELECT occ.doc_id, occ.pid,
        |    CAST(sum(ws.deg * 1000000 // ws.freq) AS BIGINT) AS score_ppm
        |  FROM occ JOIN ws ON occ.wd = ws.wd GROUP BY occ.doc_id, occ.pid),
        |cand AS (SELECT DISTINCT ph.doc_id, ph.phrase, ph.plen, sc.score_ppm
        |  FROM ph JOIN sc ON ph.doc_id = sc.doc_id AND ph.pid = sc.pid),
        |rk AS (SELECT doc_id, phrase, plen, score_ppm,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_ppm DESC, phrase) AS rank
        |  FROM cand)
        |SELECT doc_id, rank, phrase, plen AS n_words, score_ppm
        |FROM rk WHERE rank <= 3""".stripMargin) { (s, dir) =>
      val stops = Seq("the", "a", "of", "and", "to", "in")
      // The phrase aggregate CARRIES its word array (round-15, guide
      // §2.4): occ used to be a corpus-wide (doc, pid) join of the raw
      // positional explode back onto the phrase table — deriving occ by
      // re-exploding the phrase's own words removes that join and the
      // corpus-sized explode cache outright (one consumer left, so r
      // stays uncached). plen == size(wds) == the old count(*), and the
      // re-explode emits exactly the old occ multiset.
      val r = Tables.load(s, dir, "documents")
        .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("p", "wd")))
        .withColumn("st", col("wd").isin(stops: _*).cast("int"))
        .withColumn("pid", sum(col("st")).over(
          Window.partitionBy("doc_id").orderBy("p")))
        .filter(col("st") === 0)
      val ph = r.groupBy("doc_id", "pid")
        .agg(expr("transform(array_sort(collect_list(struct(p, wd))), x -> x.wd)")
          .as("wds"))
        .select(col("doc_id"), col("pid"),
          array_join(col("wds"), " ").as("phrase"),
          size(col("wds")).cast("long").as("plen"), col("wds"))
        .transform(TextOps.trackCache)
      val occ = ph.select(col("doc_id"), col("pid"),
        explode(col("wds")).as("wd"), col("plen"))
      val ws = occ.groupBy("wd")
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      val sc = occ.join(ws, "wd")
        .groupBy("doc_id", "pid")
        .agg(sum(expr("(deg * 1000000) div freq")).as("score_ppm"))
      val cand = ph.join(sc, Seq("doc_id", "pid"))
        .select(col("doc_id"), col("phrase"), col("plen"), col("score_ppm"))
        .distinct()
      cand
        .withColumn("rank", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("score_ppm").desc, col("phrase"))))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("phrase"),
          col("plen").as("n_words"), col("score_ppm"))
    },

    // Animated-GIF scene-cut detection, end-to-end through the REAL
    // multi-block container + LZW codec (the GIF twin of mm_scene_cut's
    // AVI walk): 6 frames per doc with a planted pattern change at
    // frame 2+doc_id%3 and a one-pixel jitter per frame (so every
    // adjacent-frame SAD is nonzero and order-sensitive), encoded with
    // encodeGifAnim, decoded via gifFrames' canvas compositing, scored
    // by per-boundary RGB SAD. cut frame = argmax SAD (ties to the
    // earliest). The oracle recomputes everything from the generator
    // formulas, so a frame-order, compositing, GCE-skip or LZW defect
    // anywhere in the animation path breaks the hash. Scale: pure
    // partition-local codec work, one scan, aggregates only at the end.
    Q("mm_gif_anim",
      """WITH px AS (SELECT doc_id, f.f, i.i,
        |    CASE WHEN f.f < 2 + doc_id % 3 THEN
        |      ((doc_id % 256) * (i.i + 7) * 2654435761
        |       + i.i * i.i * 12289 + (doc_id % 64) * (i.i + 1) * 40503) % 64
        |    ELSE
        |      ((doc_id % 128) * (i.i + 11) * 40503
        |       + i.i * (i.i + 3) * 2654435761 + 12289 * (i.i + 1)) % 64
        |    END AS v0
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(range(0, 6)) AS f) f
        |  CROSS JOIN (SELECT unnest(range(0, 192)) AS i) i),
        |pj AS (SELECT doc_id, f, i,
        |    CASE WHEN i = (doc_id + f * 17) % 192 THEN (v0 + 32) % 64 ELSE v0 END AS c
        |  FROM px),
        |rgb AS (SELECT doc_id, f, i, (c * 37) % 256 AS r, (c * 101) % 256 AS g,
        |    (c * 193) % 256 AS b FROM pj),
        |sad AS (SELECT a.doc_id, a.f,
        |    CAST(sum(abs(a.r - b.r) + abs(a.g - b.g) + abs(a.b - b.b)) AS BIGINT) AS sad
        |  FROM rgb a JOIN rgb b ON a.doc_id = b.doc_id AND a.i = b.i AND b.f = a.f - 1
        |  GROUP BY 1, 2)
        |SELECT doc_id, 6 AS n_frames,
        |  min({'s': -sad, 'f': f}).f AS cut_at,
        |  max(sad) AS sad_max, CAST(sum(sad) AS BIGINT) AS sad_total
        |FROM sad GROUP BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val pal = Array.tabulate(64)(c =>
        ((c * 37) % 256 << 16) | ((c * 101) % 256 << 8) | ((c * 193) % 256))
      Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.flatMap { id =>
            val cut = 2 + (id % 3).toInt
            val frames = (0 until 6).map { f =>
              val idx = new Array[Byte](192)
              var i = 0
              while (i < 192) {
                var v =
                  if (f < cut)
                    ((id % 256) * (i + 7) * 2654435761L +
                      i.toLong * i * 12289L + (id % 64) * (i + 1) * 40503L) % 64L
                  else
                    ((id % 128) * (i + 11) * 40503L +
                      i.toLong * (i + 3) * 2654435761L + 12289L * (i + 1)) % 64L
                if (i == ((id + f * 17) % 192).toInt) v = (v + 32) % 64
                idx(i) = v.toByte
                i += 1
              }
              idx
            }
            val bytes = graft.streaming.Multimodal.encodeGifAnim(16, 12, frames, pal)
            val got = graft.streaming.Multimodal.gifFrames(bytes)
            if (got.size != 6) None
            else {
              var cutAt = 0L; var sadMax = 0L; var sadTotal = 0L
              var f = 1
              while (f < 6) {
                var sad = 0L
                var j = 0
                while (j < 192 * 3) {
                  sad += math.abs((got(f).pixels(j) & 0xff) -
                    (got(f - 1).pixels(j) & 0xff))
                  j += 1
                }
                sadTotal += sad
                if (sad > sadMax) { sadMax = sad; cutAt = f }
                f += 1
              }
              Some((id, 6, cutAt, sadMax, sadTotal))
            }
          }
        }
        .toDF("doc_id", "n_frames", "cut_at", "sad_max", "sad_total")
    },

    // GIF ingest, end-to-end and BIT-EXACT through a REAL LZW codec: per
    // document a 16×12 64-colour palette image is synthesized from an
    // all-integer formula, encoded as a real GIF87a (variable-width LZW,
    // sub-blocks) by Multimodal.encodeGif, decoded back through
    // decodePixels' GIF path (full LZW decompressor — KwKwK, width
    // growth, interlace support; pinned against ImageIO both directions
    // in GifCodecSpec), and reduced to channel sums plus an
    // order-SENSITIVE position-weighted checksum. The oracle recomputes
    // the expected RGB from the generator formula alone, so any header,
    // palette, bit-unpacking, code-width or row-order defect in the
    // codec breaks the hash. Scale shape: pure mapPartitions projection,
    // one scan, no exchange before the final per-doc aggregate, and the
    // decode is init-free per record — embarrassingly parallel at any
    // corpus size.
    Q("mm_gif",
      """WITH px AS (SELECT doc_id, i,
        |    ((doc_id % 256) * (i + 7) * 2654435761
        |     + i * i * 12289 + (doc_id % 64) * (i + 1) * 40503) % 64 AS c
        |  FROM documents CROSS JOIN (SELECT unnest(range(0, 192)) AS i)),
        |rgb AS (SELECT doc_id, i, (c * 37) % 256 AS r, (c * 101) % 256 AS g,
        |    (c * 193) % 256 AS b FROM px)
        |SELECT doc_id, 16 AS w, 12 AS h,
        |  CAST(sum(r) AS BIGINT) AS sum_r,
        |  CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b,
        |  CAST(sum((i + 1) * (r * 65536 + g * 256 + b)) AS BIGINT) AS checksum
        |FROM rgb GROUP BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val pal = Array.tabulate(64)(c =>
        ((c * 37) % 256 << 16) | ((c * 101) % 256 << 8) | ((c * 193) % 256))
      Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.flatMap { id =>
            val idx = new Array[Byte](192)
            var i = 0
            while (i < 192) {
              idx(i) = (((id % 256) * (i + 7) * 2654435761L +
                i.toLong * i * 12289L + (id % 64) * (i + 1) * 40503L) % 64L).toByte
              i += 1
            }
            val bytes = graft.streaming.Multimodal.encodeGif(16, 12, idx, pal)
            graft.streaming.Multimodal.decodePixels(bytes).map { img =>
              var sr = 0L; var sg = 0L; var sb = 0L; var ck = 0L
              var j = 0
              while (j < img.width * img.height) {
                val r = img.pixels(j * 3) & 0xff
                val g = img.pixels(j * 3 + 1) & 0xff
                val b = img.pixels(j * 3 + 2) & 0xff
                sr += r; sg += g; sb += b
                ck += (j + 1).toLong * (r * 65536L + g * 256L + b)
                j += 1
              }
              (id, img.width, img.height, sr, sg, sb, ck)
            }
          }
        }
        .toDF("doc_id", "w", "h", "sum_r", "sum_g", "sum_b", "checksum")
    },

    // TIFF ingest, end-to-end and BIT-EXACT through the real baseline
    // codec (the TIFF twin of mm_gif): per doc a 16x12 RGB raster from
    // an all-integer formula, encoded by encodeTiff (classic II header,
    // 9-entry IFD, one strip), decoded back through decodePixels' TIFF
    // dispatch (IFD walk, either byte order, strip assembly — pinned
    // against the JDK ImageIO TIFF plugin both directions in
    // TiffCodecSpec), reduced to channel sums + an order-sensitive
    // position-weighted checksum; oracle recomputed from the formula.
    // Pure partition-local projection, zero exchanges.
    Q("mm_tiff",
      """WITH px AS (SELECT doc_id, i.i AS i,
        |    ((doc_id % 256) * (i.i + 13) + i.i * i.i * 31) % 256 AS r,
        |    ((doc_id % 128) * (i.i + 5) + i.i * 17) % 256 AS g,
        |    ((doc_id % 64) * (i.i + 3) + i.i * i.i * 7) % 256 AS b
        |  FROM documents CROSS JOIN (SELECT unnest(range(0, 192)) AS i) i)
        |SELECT doc_id, 16 AS w, 12 AS h,
        |  CAST(sum(r) AS BIGINT) AS sum_r,
        |  CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b,
        |  CAST(sum((i + 1) * (r * 65536 + g * 256 + b)) AS BIGINT) AS checksum
        |FROM px GROUP BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.flatMap { id =>
            val rgb = new Array[Byte](192 * 3)
            var i = 0
            while (i < 192) {
              rgb(i * 3) = (((id % 256) * (i + 13) + i.toLong * i * 31) % 256).toByte
              rgb(i * 3 + 1) = (((id % 128) * (i + 5) + i * 17L) % 256).toByte
              rgb(i * 3 + 2) = (((id % 64) * (i + 3) + i.toLong * i * 7) % 256).toByte
              i += 1
            }
            val bytes = graft.streaming.Multimodal.encodeTiff(16, 12, rgb)
            graft.streaming.Multimodal.decodePixels(bytes).map { img =>
              var sr = 0L; var sg = 0L; var sb = 0L; var ck = 0L
              var j = 0
              while (j < img.width * img.height) {
                val r = img.pixels(j * 3) & 0xff
                val g = img.pixels(j * 3 + 1) & 0xff
                val b = img.pixels(j * 3 + 2) & 0xff
                sr += r; sg += g; sb += b
                ck += (j + 1).toLong * (r * 65536L + g * 256L + b)
                j += 1
              }
              (id, img.width, img.height, sr, sg, sb, ck)
            }
          }
        }
        .toDF("doc_id", "w", "h", "sum_r", "sum_g", "sum_b", "checksum")
    },

    // Pitch detection by integer autocorrelation through the REAL WAV
    // codec path (the DSP sibling of mm_vad): per doc a square wave of
    // period 25+doc_id%30 samples is synthesized, PCM16-encoded,
    // decoded back by decodeWav (mono mix s/32768 — dyadic, so
    // round(mono*32768) recovers the EXACT integers), and the lag of
    // the maximum autocorrelation R(L)=Σ s_i·s_{i+L} over L∈[20,60] is
    // the detected period. Everything is integer, so best lag, peak
    // value and the lag-weighted checksum replay exactly; the oracle
    // recomputes R from the generator formula with a banded self-join.
    // Spark side is a pure partition-local kernel — one scan, zero
    // exchanges before the output.
    Q("mm_pitch",
      """WITH s AS (SELECT doc_id, i.i AS i,
        |    CASE WHEN (i.i % (25 + doc_id % 30)) * 2 < (25 + doc_id % 30)
        |         THEN 2000 + doc_id % 1000 ELSE -(2000 + doc_id % 1000) END AS v
        |  FROM documents CROSS JOIN (SELECT unnest(range(0, 400)) AS i) i),
        |r AS (SELECT a.doc_id, b.i - a.i AS lag, CAST(sum(a.v * b.v) AS BIGINT) AS r
        |  FROM s a JOIN s b ON a.doc_id = b.doc_id
        |    AND b.i >= a.i + 20 AND b.i <= a.i + 60
        |  GROUP BY 1, 2)
        |SELECT doc_id, min({'nr': -r, 'l': lag}).l AS best_lag, max(r) AS r_max,
        |  CAST(sum(lag * (r % 1000000)) AS BIGINT) AS chk
        |FROM r GROUP BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.flatMap { id =>
            val p = (25 + id % 30).toInt
            val amp = (2000 + id % 1000).toInt
            val sm = Array.tabulate[Short](400)(i =>
              (if ((i % p) * 2 < p) amp else -amp).toShort)
            val bytes = graft.streaming.Multimodal.encodeWavPcm16(8000, 1, sm)
            graft.streaming.Multimodal.decodeWav(bytes).map { case (_, _, _, mono) =>
              val si = mono.map(d => math.round(d * 32768).toInt)
              var bestLag = 0L; var rMax = Long.MinValue; var chk = 0L
              var lag = 20
              while (lag <= 60) {
                var r = 0L
                var i = 0
                while (i + lag < 400) { r += si(i).toLong * si(i + lag); i += 1 }
                if (r > rMax) { rMax = r; bestLag = lag }
                chk += lag * (r % 1000000)
                lag += 1
              }
              (id, bestLag, rMax, chk)
            }
          }
        }
        .toDF("doc_id", "best_lag", "r_max", "chk")
    },

    // MOSS-style match detection over the winnowed fingerprints: doc
    // pairs sharing >= 2 selected fingerprint hashes, scored by the
    // shared count and by coverage of the smaller document's selection
    // (integer ppm). Winnowing guarantees any shared token run of
    // >= w+k-1 = 7 words surfaces here — this row is the cross-doc
    // payoff of tx_winnow's selection (same tracked-cached frame, so
    // the selection is computed once for both rows). Fingerprints held
    // by > 50 docs are excluded before the join — the standard MOSS
    // boilerplate mask, and the same hot-key cap that keeps the
    // inverted-index join's fan-out bounded at corpus scale (the join
    // shuffles on hv; without the mask one template fingerprint would
    // fan out quadratically).
    Q("dd_winnow_pairs",
      s"""WITH $winnowCtes,
        |df AS (SELECT hv, count(DISTINCT doc_id) AS df FROM sel GROUP BY hv),
        |keep AS (SELECT DISTINCT s.doc_id, s.hv FROM sel s
        |  JOIN df ON s.hv = df.hv WHERE df.df <= 50),
        |nf AS (SELECT doc_id, count(*) AS n_fp FROM keep GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |  FROM keep a JOIN keep b ON a.hv = b.hv AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pr.doc_a, pr.doc_b, pr.n_shared,
        |  pr.n_shared * 1000000 // least(na.n_fp, nb.n_fp) AS cover_ppm
        |FROM pr JOIN nf na ON pr.doc_a = na.doc_id
        |JOIN nf nb ON pr.doc_b = nb.doc_id""".stripMargin) { (s, dir) =>
      val sel = winnowSelected(s, dir)
      val dfp = sel.groupBy("hv").agg(countDistinct(col("doc_id")).as("df"))
      val keep = sel.join(dfp.filter(col("df") <= 50), "hv")
        .select(col("doc_id"), col("hv")).distinct()
        .transform(TextOps.trackCache)
      val nf = keep.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
      val pr = keep.as("a")
        .join(keep.as("b"),
          col("a.hv") === col("b.hv") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
      pr
        .join(nf.select(col("doc_id").as("doc_a"), col("n_fp").as("na")), "doc_a")
        .join(nf.select(col("doc_id").as("doc_b"), col("n_fp").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          expr("(n_shared * 1000000) div least(na, nb)").as("cover_ppm"))
    },

    // K-minimum-values distinct sketch (Bar-Yossef et al. 2002) — the
    // order-statistics member of the sketch family (HLL, CMS, Bloom,
    // Misra-Gries, bitmap are already board rows): per event type keep
    // the k=128 smallest md5-derived 28-bit hashes of the user ids,
    // SALTED by the type (every type holds the same users, so an
    // unsalted sketch replicates one draw's order-statistic luck five
    // times — measured 30% off in one direction for all five);
    // est = (k-1) * 2^28 / h_(k) — pure integer arithmetic, so the
    // whole sketch AND its estimate replay exactly in SQL. The sketch
    // is mergeable (union = k smallest of the union — how a
    // 1000-executor tree-reduce combines partials); the row gates the
    // estimate to ±25% of the exact distinct count in-row, so a skewed
    // hash or off-by-one in the order statistic goes red.
    Q("q_approx_kmv",
      """WITH h AS (SELECT DISTINCT event_type, user_id,
        |    list_reduce(list_transform(range(1, 8),
        |      i -> CAST(strpos('0123456789abcdef',
        |             substr(md5(event_type || ':' || CAST(user_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |      (a, x) -> a * 16 + x) AS hv
        |  FROM events),
        |r AS (SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv, user_id) AS rn
        |  FROM h),
        |kth AS (SELECT event_type, max(hv) AS hk, count(*) AS k
        |  FROM r WHERE rn <= 128 GROUP BY event_type),
        |x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1)
        |SELECT kth.event_type, kth.k, kth.hk,
        |  (kth.k - 1) * 268435456 // kth.hk AS est,
        |  x.n_exact,
        |  CAST(abs((kth.k - 1) * 268435456 // kth.hk - x.n_exact)
        |       <= x.n_exact // 4 AS INT) AS within_25pct
        |FROM kth JOIN x ON kth.event_type = x.event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val h = ev.select(col("event_type"), col("user_id")).distinct()
        .withColumn("hv",
          conv(substring(md5(concat(col("event_type"), lit(":"),
            col("user_id").cast("string"))), 1, 7), 16, 10).cast("long"))
      val r = h.withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("hv"), col("user_id"))))
      val kth = r.filter(col("rn") <= 128).groupBy("event_type")
        .agg(max(col("hv")).as("hk"), count(lit(1)).as("k"))
      val x = ev.groupBy("event_type").agg(countDistinct(col("user_id")).as("n_exact"))
      kth.join(x, "event_type")
        .select(col("event_type"), col("k"), col("hk"),
          expr("(k - 1) * 268435456 div hk").as("est"), col("n_exact"),
          (abs(expr("(k - 1) * 268435456 div hk") - col("n_exact"))
            <= expr("n_exact div 4")).cast("int").as("within_25pct"))
    },

    // The SAME KMV sketch as a NATIVE Catalyst aggregate
    // (org.apache.spark.sql.graft.KmvAgg, a TypedImperativeAggregate —
    // the custom-op ladder's tier (b) applied to aggregation, which the
    // scalar expression library already demonstrates for projections).
    // The compositional q_approx_kmv above shuffles every distinct
    // (type, user) pair into a per-group rank window; the native
    // aggregate keeps O(k) state per group, partials merge map-side,
    // and the shuffle carries one 2 KB sketch per (group, partition) —
    // the bounded tree-reduce shape at 100 TB. Set semantics make the
    // sketch a pure function of the input SET (partitioning-, order-
    // and duplicate-invariant — KmvAggSpec pins all three), so unlike
    // GK/HLL internals the full sketch replays exactly in SQL: k, the
    // kth order statistic, the whole-sketch sum, and the estimate are
    // all hash-gated. Fed RAW rows (no pre-distinct) on purpose.
    Q("q_kmv_native", kmvOracleSql) { (s, dir) =>
      val withH = Tables.load(s, dir, "events")
        .select(col("event_type"), col("user_id"))
        .withColumn("hv",
          conv(substring(md5(concat(col("event_type"), lit(":"),
            col("user_id").cast("string"))), 1, 7), 16, 10).cast("long"))
      withH.groupBy("event_type")
        .agg(org.apache.spark.sql.graft.KmvAgg
          .kmvMinhashes(col("hv"), col("user_id"), 128).as("sketch"))
        .select(col("event_type"),
          size(col("sketch")).cast("long").as("k"),
          element_at(col("sketch"), -1).as("hk"),
          expr("aggregate(sketch, 0L, (a, x) -> a + x)").as("sketch_sum"))
        .withColumn("est", expr("(k - 1) * 268435456 div hk"))
        .select("event_type", "k", "hk", "sketch_sum", "est")
    },

    // KMV/theta-sketch SET-OPERATION estimation (Beyer et al. SIGMOD'07;
    // the Datasketches theta union/intersection): high-value purchasers
    // vs high-value clickers as two partially-overlapping user sets
    // (31/111 union at sf0.01, 344/1099 at sf0.1). A COMMON unsalted
    // hash this time — set algebra needs comparable sketches. Union
    // sketch = k smallest of the two per-set sketches' union (the
    // mergeable path a tree-reduce takes — never the raw sets);
    // intersection via the membership flags, which are EXACT against the
    // truncated per-set sketches (x in K-union and x in A implies x in
    // K_A — k-th-order-statistic argument in Beyer et al. §4). Every
    // hash, rank, and integer-division estimate replays in SQL; in-row
    // gates hold the union to ±25% and the intersection to ±35% of the
    // exact counts (sketches go exact below k, so the gates bite at
    // sf0.1 and 10x where n > k).
    Q("q_approx_setops",
      """WITH au AS (SELECT DISTINCT user_id FROM events
        |    WHERE event_type = 'purchase' AND value > 150),
        |bu AS (SELECT DISTINCT user_id FROM events
        |    WHERE event_type = 'click' AND value > 150),
        |ha AS (SELECT user_id, list_reduce(list_transform(range(1, 8),
        |      i -> CAST(strpos('0123456789abcdef',
        |             substr(md5('u:' || CAST(user_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |      (a, x) -> a * 16 + x) AS hv FROM au),
        |hb AS (SELECT user_id, list_reduce(list_transform(range(1, 8),
        |      i -> CAST(strpos('0123456789abcdef',
        |             substr(md5('u:' || CAST(user_id AS VARCHAR)), CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |      (a, x) -> a * 16 + x) AS hv FROM bu),
        |ka AS (SELECT user_id, hv FROM (SELECT user_id, hv,
        |    row_number() OVER (ORDER BY hv, user_id) AS rn FROM ha) WHERE rn <= 128),
        |kb AS (SELECT user_id, hv FROM (SELECT user_id, hv,
        |    row_number() OVER (ORDER BY hv, user_id) AS rn FROM hb) WHERE rn <= 128),
        |km AS (SELECT coalesce(ka.user_id, kb.user_id) AS user_id,
        |    coalesce(ka.hv, kb.hv) AS hv,
        |    CASE WHEN ka.user_id IS NULL THEN 0 ELSE 1 END AS in_a,
        |    CASE WHEN kb.user_id IS NULL THEN 0 ELSE 1 END AS in_b
        |  FROM ka FULL OUTER JOIN kb ON ka.user_id = kb.user_id AND ka.hv = kb.hv),
        |ku AS (SELECT * FROM (SELECT *,
        |    row_number() OVER (ORDER BY hv, user_id) AS rn FROM km) WHERE rn <= 128),
        |sk AS (SELECT CAST(max(hv) AS BIGINT) AS hk, count(*) AS ku_n,
        |    CAST(sum(in_a * in_b) AS BIGINT) AS n_both FROM ku),
        |x AS (SELECT (SELECT count(*) FROM au) AS na, (SELECT count(*) FROM bu) AS nb,
        |    (SELECT count(*) FROM au JOIN bu USING (user_id)) AS n_inter,
        |    (SELECT count(*) FROM (SELECT user_id FROM au UNION SELECT user_id FROM bu)) AS n_union),
        |e AS (SELECT hk, ku_n, n_both, na, nb, n_inter, n_union,
        |    CASE WHEN ku_n < 128 THEN ku_n
        |         ELSE (ku_n - 1) * 268435456 // hk END AS est_union
        |  FROM sk, x)
        |SELECT ku_n, hk, n_both, na, nb, n_union, n_inter,
        |  CAST(est_union AS BIGINT) AS est_union,
        |  CAST(n_both * est_union // ku_n AS BIGINT) AS est_inter,
        |  CAST(abs(est_union - n_union) <= n_union // 4 AS INT) AS union_ok,
        |  CAST(abs(n_both * est_union // ku_n - n_inter) * 100 <= n_inter * 35 AS INT) AS inter_ok
        |FROM e""".stripMargin) { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val hv = conv(substring(md5(concat(lit("u:"),
        col("user_id").cast("string"))), 1, 7), 16, 10).cast("long")
      def kset(et: String) = {
        val base = ev.filter(col("event_type") === et && col("value") > 150)
          .select(col("user_id")).distinct().withColumn("hv", hv)
        base.withColumn("rn",
            row_number().over(Window.orderBy(col("hv"), col("user_id"))))
          .filter(col("rn") <= 128).select("user_id", "hv")
      }
      val au = ev.filter(col("event_type") === "purchase" && col("value") > 150)
        .select(col("user_id")).distinct()
      val bu = ev.filter(col("event_type") === "click" && col("value") > 150)
        .select(col("user_id")).distinct()
      val km = kset("purchase").withColumn("in_a", lit(1))
        .join(kset("click").withColumn("in_b", lit(1)), Seq("user_id", "hv"), "outer")
        .na.fill(0, Seq("in_a", "in_b"))
      val ku = km.withColumn("rn",
          row_number().over(Window.orderBy(col("hv"), col("user_id"))))
        .filter(col("rn") <= 128)
      val sk = ku.agg(max("hv").as("hk"), count(lit(1)).as("ku_n"),
        sum(col("in_a") * col("in_b")).cast("long").as("n_both"))
      val x = au.agg(count(lit(1)).as("na")).crossJoin(
          bu.agg(count(lit(1)).as("nb")))
        .crossJoin(au.join(bu, "user_id").agg(count(lit(1)).as("n_inter")))
        .crossJoin(au.union(bu).distinct().agg(count(lit(1)).as("n_union")))
      sk.crossJoin(x)
        .withColumn("est_union",
          expr("CASE WHEN ku_n < 128 THEN ku_n ELSE (ku_n - 1) * 268435456 div hk END"))
        .select(col("ku_n"), col("hk"), col("n_both"), col("na"), col("nb"),
          col("n_union"), col("n_inter"), col("est_union"),
          expr("n_both * est_union div ku_n").as("est_inter"),
          (abs(col("est_union") - col("n_union")) <= expr("n_union div 4"))
            .cast("int").as("union_ok"),
          (abs(expr("n_both * est_union div ku_n") - col("n_inter")) * 100
            <= col("n_inter") * 35).cast("int").as("inter_ok"))
    },
  )

  /** DuckDB oracle for tx_bpe_fertility: the trainer CTE chain (shared
    * shape with [[bpeOracle]]) plus a per-language word table with all
    * `iters` merges applied as nested replaces, aggregated per lang.
    */
  private def bpeFertilityOracle(iters: Int): String = {
    val base = bpeCtes(iters, throughFinal = false)
    val nested = (1 to iters).foldLeft("s") { (e, i) =>
      s"replace($e, ' '||m$i.a||' '||m$i.b, ' '||replace(m$i.a,';','')||m$i.b)"
    }
    val ms = (1 to iters).map(i => s"m$i").mkString(", ")
    s"""WITH ${base.mkString(",\n")},
       |wl AS (
       |  SELECT lang, w AS word, count(*) AS wc FROM (
       |    SELECT lang, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS w
       |    FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY lang, w),
       |s0l AS (SELECT lang, wc, word,
       |    ' ' || array_to_string([word[i:i] || ';' for i in range(1, len(word)+1)], ' ') AS s
       |  FROM wl),
       |fin AS (SELECT lang, wc, word, $nested AS s FROM s0l, $ms),
       |agg AS (SELECT lang, wc, word,
       |    len(list_filter(string_split(s,' '), x->x<>'')) AS n_sym FROM fin)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(wc) AS BIGINT) AS total_words,
       |  CAST(sum(wc * len(word)) AS BIGINT) AS total_chars,
       |  CAST(sum(wc * n_sym) AS BIGINT) AS total_tokens,
       |  round(sum(wc * n_sym) * 1.0 / sum(wc), 6) AS fertility,
       |  round(sum(wc * len(word)) * 1.0 / sum(wc * n_sym), 6) AS chars_per_token
       |FROM agg GROUP BY lang""".stripMargin
  }

  /** DuckDB oracle for tx_bpe_merges / tx_bpe_encode: `iters` unrolled
    * pair-count/argmax/merge CTE stages over the ';'-suffixed symbol
    * rendering (same construction as TextOps.bpeLoop). With
    * `encode = false` the query emits the learned rules; with
    * `encode = true` it applies the final merge too and emits the
    * corpus tokenization stats.
    */
  private def bpeOracle(iters: Int, encode: Boolean): String = {
    val ctes = bpeCtes(iters, throughFinal = encode)
    val body =
      if (!encode)
        (1 to iters).map(i =>
          s"SELECT $i AS iter, replace(a||b,';','') AS merged, cnt FROM m$i")
          .mkString("\nUNION ALL\n")
      else
        s"""SELECT CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(wc) AS BIGINT) AS total_words,
           |  CAST(sum(wc * len(word)) AS BIGINT) AS total_chars,
           |  CAST(sum(wc * n_sym) AS BIGINT) AS total_tokens,
           |  round(sum(wc * len(word)) * 1.0 / sum(wc * n_sym), 6) AS chars_per_token
           |FROM (SELECT wc, word,
           |    len(list_filter(string_split(s,' '), x->x<>'')) AS n_sym
           |  FROM s$iters)""".stripMargin
    "WITH " + ctes.mkString(",\n") + "\n" + body
  }

  /** The trainer CTE chain shared by all three BPE oracles: words, s0,
    * and per iteration p_i (pair counts), m_i (argmax), s_i (merge
    * applied; the final s_iters only when `throughFinal`).
    */
  private def bpeCtes(iters: Int, throughFinal: Boolean): Seq[String] = {
    def pairCte(name: String, src: String): String =
      s"""$name AS (
         |  SELECT a, b, CAST(sum(wc) AS BIGINT) AS cnt FROM (
         |    SELECT wc, unnest([syms[i] for i in range(1, len(syms))]) AS a,
         |               unnest([syms[i+1] for i in range(1, len(syms))]) AS b
         |    FROM (SELECT wc, list_filter(string_split(s,' '), x->x<>'') AS syms FROM $src)
         |    WHERE len(syms) >= 2)
         |  GROUP BY a, b)""".stripMargin
    val ctes = Seq.newBuilder[String]
    ctes += """words AS (
              |  SELECT w AS word, count(*) AS wc FROM (
              |    SELECT unnest(list_filter(string_split(text,' '), x -> x <> '')) AS w
              |    FROM documents)
              |  WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w)""".stripMargin
    ctes += """s0 AS (SELECT wc, word,
              |    ' ' || array_to_string([word[i:i] || ';' for i in range(1, len(word)+1)], ' ') AS s
              |  FROM words)""".stripMargin
    for (i <- 1 to iters) {
      ctes += pairCte(s"p$i", s"s${i - 1}")
      ctes += s"m$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1)"
      if (i < iters || throughFinal)
        ctes += (s"s$i AS (SELECT wc, word, replace(s, ' '||m$i.a||' '||m$i.b," +
          s" ' '||replace(m$i.a,';','')||m$i.b) AS s FROM s${i - 1}, m$i)")
    }
    ctes.result()
  }

  /** Shared winnowing CTE chain (tokens → positional 3-gram hashes →
    * rightmost-min-per-window selection) — the oracle half of
    * [[winnowSelected]]; tx_winnow and dd_winnow_pairs both embed it so
    * the two oracles cannot drift.
    */
  private val winnowCtes: String =
    """t AS (SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
      |g0 AS (SELECT doc_id,
      |    [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)] AS gs
      |  FROM t WHERE len(w) >= 6),
      |g AS (SELECT doc_id, len(gs) AS ng,
      |    unnest([{'p': i - 1, 'g': gs[i]} for i in range(1, len(gs) + 1)]) AS s
      |  FROM g0),
      |h AS (SELECT doc_id, ng, s.p AS p,
      |    list_reduce(list_transform(range(1, 8),
      |      i -> CAST(strpos('0123456789abcdef',
      |             substr(md5(s.g), CAST(i AS INT), 1)) - 1 AS BIGINT)),
      |      (a, x) -> a * 16 + x) AS hv
      |  FROM g),
      |m AS (SELECT doc_id, ng, p,
      |    min({'hv': hv, 'np': -p}) OVER (PARTITION BY doc_id ORDER BY p
      |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m
      |  FROM h),
      |sel AS (SELECT DISTINCT doc_id, ng, m.hv AS hv, -m.np AS sp
      |  FROM m WHERE p >= 3)""".stripMargin

  /** Winnowed fingerprint selection (doc_id, ng, hv, sp), tracked-cached
    * with an identical plan from tx_winnow and dd_winnow_pairs so the
    * LRU registry keeps one live copy across both rows.
    */
  private def winnowSelected(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val g = Tables.load(s, dir, "documents")
      .withColumn("w", TextOps.tokens(col("text")))
      .filter(size(col("w")) >= 6)
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', slice(w, i + 1, 3)))"))
          .as(Seq("p", "gram")))
      .withColumn("hv", conv(substring(md5(col("gram")), 1, 7), 16, 10).cast("long"))
    val frame = Window.partitionBy("doc_id").orderBy("p").rowsBetween(-3, 0)
    val whole = Window.partitionBy("doc_id")
    g.withColumn("ng", max(col("p")).over(whole) + 1)
      .withColumn("m", min(struct(col("hv"), (-col("p")).as("np"))).over(frame))
      .filter(col("p") >= 3)
      .select(col("doc_id"), col("ng"),
        col("m").getField("hv").as("hv"), (-col("m").getField("np")).as("sp"))
      .distinct()
      .transform(TextOps.trackCache)
  }

  /** Banded aHash near-dup pairs through the real PPM encode/decode +
    * perceptual-hash path — the mm_ahash_pairs frame, extracted so
    * mm_ahash_clusters composes the identical (cache-shared) plan.
    */
  private def ahashPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val recs = Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val header = "P6\n8 8\n255\n".getBytes("US-ASCII")
        it.map { id =>
          val base = if (id % 10 == 1) id - 1 else id
          val px = new Array[Byte](64 * 3)
          var i = 0
          while (i < 64) {
            var v = (((base % 256L) * (i + 1) * 2654435761L +
              (base % 65536L) / 256L * (i + 3) * (i + 5) * 12289L +
              i * 40503L) % 256L).toInt
            if (id % 10 == 1 && i == (id % 64).toInt) v = (v + 96) % 256
            px(i * 3) = v.toByte; px(i * 3 + 1) = v.toByte; px(i * 3 + 2) = v.toByte
            i += 1
          }
          graft.streaming.MediaRecord(id, "image", header ++ px, Map.empty)
        }
      }
    val sh = graft.streaming.Multimodal.perceptualHashes(recs)
      .select(col("id").as("doc_id"), lpad(hex(col("phash")), 16, "0").as("h"))
      .withColumn("hi", conv(substring(col("h"), 1, 8), 16, 10).cast("long"))
      .withColumn("lo", conv(substring(col("h"), 9, 8), 16, 10).cast("long"))
      .transform(TextOps.trackCache)
    val bands = sh.select(col("doc_id"), col("hi"), col("lo"),
      posexplode(array((0 until 4).map(b =>
        substring(col("h"), 1 + b * 4, 4)): _*)).as(Seq("band", "bh")))
    val hamming = bit_count(col("a.hi").bitwiseXOR(col("b.hi"))) +
      bit_count(col("a.lo").bitwiseXOR(col("b.lo")))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming.as("hamming"))
      .filter(col("hamming") <= 8)
      .distinct()
  }
}
