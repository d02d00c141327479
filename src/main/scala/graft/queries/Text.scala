package graft.queries

import graft.{Decl, Det, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text analysis for training-data pipelines (SURVEY.md §2 tier C rows
  * C6-C9, C11 + the mandated quality/language/token/fingerprint ops).
  * Everything is tokenize-with-builtins (`split`/`explode`/higher-order
  * fns) — codegen'd, no UDF in the hot path.
  *
  * Scale: token explosion multiplies rows ×~50; every downstream
  * aggregate is partial+final on (token) or (doc) keys, so the explode
  * never converges on the driver. Top-N-per-group goes through a
  * window + row_number ≤ N, which at 100 TB should be preceded by a
  * per-partition partial top-N (AQE handles the skew; heavy-hitter
  * tokens like stopwords are exactly the skewed keys).
  */
object Text {

  import Det._

  private val toks = split(col("text"), " ")

  // ---- shared stage twins (text_gopher_rules / text_pii_scrub ⇄ the
  // composed curation_pipeline_e2e oracle): ONE source of truth for
  // each stage's SQL so the standalone declared query and the
  // pipeline's chained replay can never drift apart ----

  /** Gopher-gate CTE chain (tc → agg → f): per-doc token count, mean
    * token length, stopword hits, top-token share. */
  private[queries] val sqlGopherCtes: String =
    """tc AS (SELECT doc_id, t, count(*) AS c
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |        FROM documents) GROUP BY doc_id, t),
      |agg AS (SELECT doc_id,
      |    CAST(SUM(CAST(c AS BIGINT)) AS BIGINT) AS n_tok,
      |    CAST(MAX(c) AS BIGINT) AS top_c
      |  FROM tc GROUP BY doc_id),
      |f AS (SELECT d.doc_id, n_tok,
      |    CAST(n_chars - n_tok + 1 AS DOUBLE) / n_tok AS mean_tok_len,
      |    len(list_intersect(string_split(text, ' '),
      |      ['the', 'of', 'and', 'der', 'el', 'le'])) AS n_stop,
      |    CAST(top_c AS DOUBLE) / n_tok AS top_share
      |  FROM documents d JOIN agg ON d.doc_id = agg.doc_id)""".stripMargin

  /** The Gopher keep conjunction over `f`'s columns. */
  private[queries] val sqlGopherKeep: String =
    "(n_tok BETWEEN 10 AND 100000)\n" +
      "    AND (mean_tok_len BETWEEN 2 AND 12)\n" +
      "    AND n_stop >= 1 AND top_share <= 0.2"

  /** PII patterns + the deterministic plant (the fixture carries no
    * PII, so every 3rd doc gets an email / every 3rd a phone appended
    * from generator arithmetic both engines construct identically —
    * see the text_pii_scrub scaladoc). */
  private[queries] val PiiEmailRe = "[a-z0-9]+@[a-z0-9.]+\\.[a-z]+"
  private[queries] val PiiPhoneRe = "555-[0-9]+"
  // single line: a continuation line starting with '||' would be
  // eaten by an enclosing stripMargin
  private[queries] val piiAugSql: String =
    "CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' " +
      "|| CAST(doc_id AS VARCHAR) || '@example.com now' " +
      "WHEN doc_id % 3 = 1 THEN text || ' call 555-0' " +
      "|| CAST(doc_id % 1000 AS VARCHAR) || ' today' ELSE text END"
  private[queries] def piiCleanSql(augExpr: String): String =
    s"regexp_replace(regexp_replace($augExpr, '$PiiEmailRe', " +
      s"'<EMAIL>', 'g'), '$PiiPhoneRe', '<PHONE>', 'g')"
  private[queries] def piiAugCol: Column =
    when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" contact user"),
        col("doc_id").cast(StringType), lit("@example.com now")))
      .when(col("doc_id") % 3 === 1,
        concat(col("text"), lit(" call 555-0"),
          (col("doc_id") % 1000).cast(StringType), lit(" today")))
      .otherwise(col("text"))
  private[queries] def piiCleanCol(aug: Column): Column =
    regexp_replace(
      regexp_replace(aug, PiiEmailRe, "<EMAIL>"), PiiPhoneRe, "<PHONE>")

  /** The trained Naive Bayes model as frames (text_nb_train's
    * parameters, shaped for scoring): the (class, token) count table,
    * the per-class totals, the vocabulary size, and the log-priors.
    * All model frames are (class × vocab)-bounded — broadcastable —
    * and the count table is checkpointed once so every consumer
    * (batch classify, the streaming monitor, each micro-batch of a
    * streaming scorer) reuses one materialization instead of
    * re-deriving the corpus-wide explode+count. */
  final case class NbModel(cnt: DataFrame, classes: DataFrame,
      v: DataFrame, prior: DataFrame)

  private[graft] def nbModel(s: org.apache.spark.sql.SparkSession,
      d: String): NbModel = {
    val train = Tables.documents(s, d)
      .filter(col("doc_id") % 5 =!= 0
        && col("text").isNotNull && col("lang").isNotNull)
    val tok = train.select(col("lang"), explode(toks).as("tok"))
    val cnt = tok.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val cls = train.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val ctot = cnt.groupBy("lang").agg(sum("c").as("ct"))
    val v = broadcast(cnt.agg(countDistinct("tok").as("v")))
    val tot = broadcast(cls.agg(sum("n_docs").as("total")))
    def t9(x: Column) = log(x).cast(DecimalType(20, 9))
    val prior = cls.crossJoin(tot)
      .select(col("lang").as("clang"),
        t9(col("n_docs").cast(DoubleType) / col("total")).as("p9"))
    // the class table is |classes| rows — broadcast by construction;
    // cnt is (class × vocab)-bounded and stays UNHINTED (the planner
    // broadcasts it at test scale and demotes to a token-key shuffle
    // join when a real vocabulary outgrows the threshold)
    val classes = broadcast(cls.join(ctot, "lang")
      .select(col("lang").as("clang"), col("ct")))
    NbModel(cnt, classes, v, prior)
  }

  /** Score documents (doc_id, lang, text) against a trained [[NbModel]]:
    * argmax over classes of prior + Σ smoothed token log-likelihoods,
    * every term DECIMAL(20,9)-quantized and the per-(doc, class) score
    * an exact decimal sum — the prediction AND score replay exactly in
    * DuckDB (see text_nb_classify). Works identically on a full test
    * split or one micro-batch: each doc's score depends only on its
    * own tokens plus the static model, so chunked streaming scoring
    * is bit-equal to batch scoring (StreamingSpec witnesses this). */
  private[graft] def nbScore(docs: DataFrame, m: NbModel): DataFrame = {
    val ttok = docs.select(col("doc_id"), explode(toks).as("tok"))
    def t9(x: Column) = log(x).cast(DecimalType(20, 9))
    val term = ttok.crossJoin(m.classes).crossJoin(m.v)
      .join(m.cnt.select(col("lang").as("clang"), col("tok"), col("c")),
        Seq("clang", "tok"), "left")
      .select(col("doc_id"), col("clang"),
        t9((coalesce(col("c"), lit(0L)) + 1).cast(DoubleType) /
          (col("ct") + col("v")).cast(DoubleType)).as("t9"))
    val score = term.groupBy("doc_id", "clang")
      .agg(sum(col("t9")).as("ts"))
      .join(broadcast(m.prior), "clang")
      .withColumn("sc", col("ts") + col("p9"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("sc").desc, col("clang"))
    score.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("clang").as("pred_lang"),
        col("sc"))
  }

  /** Canonical-leftmost BPE merge application, carry columns preserved:
    * fold each row's sep-prefixed repr with the broadcast 1-row best
    * pair (see text_bpe_learn's fold-boundary notes — the suffix test
    * is boundary-exact and a symbol merged this round can't chain).
    * array_remove drops the split's leading '' (repr is sep-prefixed);
    * symbols are never empty so nothing else matches. NOT
    * slice(arr, 2, Int.MaxValue): Spark's slice computes start +
    * length in Int and silently overflows to an EMPTY result
    * (measured — the whole fold returned ''). */
  private def bpeApply(df: DataFrame, best: DataFrame,
      carry: String*): DataFrame =
    df.crossJoin(
        broadcast(best.select(col("pl").as("bl"), col("pr").as("br"))))
      .select(expr(
        "aggregate(array_remove(split(repr, chr(1)), ''), '', " +
          "(acc, x) -> CASE WHEN endswith(acc, chr(1) || bl) " +
          "AND x = br THEN acc || x " +
          "ELSE acc || chr(1) || x END)").as("repr")
        +: carry.map(col): _*)
      .localCheckpoint(false)

  /** 4 rounds of BPE merge learning over the doc_id < 200 training
    * slice (frequency-weighted distinct-word table): returns the
    * per-round best-pair frames (1 row each: pl, pr, n). Each round is
    * one vocabulary-sized pair-count shuffle + a broadcast best pair +
    * a map-side fold; localCheckpoint bounds the lineage per round. */
  private def bpeLearnRounds(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[DataFrame] = {
    val words = Tables.documents(s, d)
      .filter(col("text").isNotNull && col("doc_id") < 200)
      .select(explode(toks).as("w"))
      .filter(col("w").rlike("\\A[a-z]{2,12}\\z"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    var cur = words.select(
      expr("concat(chr(1), array_join(transform(sequence(1, length(w)), " +
        "i -> substring(w, i, 1)), chr(1)))").as("repr"),
      col("freq"))
      .localCheckpoint(false)
    val toksCol = expr("array_remove(split(repr, chr(1)), '')")
    val bests = scala.collection.mutable.Buffer.empty[DataFrame]
    for (r <- 1 to 4) {
      val best = cur
        .select(col("freq"), toksCol.as("t"))
        .filter(size(col("t")) >= 2) // sequence() turns descending at 0
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "i -> struct(element_at(t, i) AS pl, " +
            "element_at(t, i + 1) AS pr))")).as("pair"))
        .groupBy(col("pair.pl").as("pl"), col("pair.pr").as("pr"))
        .agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("pl"), col("pr")).limit(1)
        .localCheckpoint(false)
      bests += best
      if (r < 4) cur = bpeApply(cur, best, "freq")
    }
    bests.toSeq
  }

  /** The BPE learning oracle's WITH-chain through the 4 best pairs
    * (b1..b4) — shared by text_bpe_learn and text_bpe_encode. The
    * multiply-referenced per-round frames are MATERIALIZED: DuckDB's
    * default inlining re-evaluates w_r for both p_{r+1} and w_{r+1}
    * (and the encode chain re-references every b_r), doubling per
    * round — the PCA oracle's lesson applied here. */
  private[queries] def bpeSqlChain: String = {
    def toksD(src: String) =
      s"(SELECT freq, string_split(repr, chr(1))[2:] AS t FROM $src)"
    def pairsD(r: Int, src: String) =
      s"""p$r AS (SELECT (pair).pl AS pl, (pair).pr AS pr,
         |    CAST(SUM(freq) AS BIGINT) AS n
         |  FROM (SELECT freq, unnest(list_transform(range(1, len(t)),
         |      i -> struct_pack(pl := t[i], pr := t[i + 1]))) AS pair
         |    FROM ${toksD(src)})
         |  GROUP BY pl, pr),
         |b$r AS MATERIALIZED (SELECT pl, pr, n FROM p$r
         |        ORDER BY n DESC, pl, pr LIMIT 1)""".stripMargin
    def applyD(r: Int, src: String) =
      s"""w$r AS MATERIALIZED (SELECT list_reduce(string_split(repr, chr(1)),
         |    (acc, x) -> CASE WHEN ends_with(acc, chr(1) || b$r.pl)
         |        AND x = b$r.pr
         |      THEN acc || x ELSE acc || chr(1) || x END) AS repr, freq
         |  FROM $src, b$r)""".stripMargin
    s"""wr AS (SELECT w, COUNT(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
       |    WHERE text IS NOT NULL AND doc_id < 200)
       |  WHERE regexp_matches(w, '\\A[a-z]{2,12}\\z') GROUP BY w),
       |w0 AS MATERIALIZED (SELECT chr(1) || array_to_string(
       |    list_transform(range(1, len(w) + 1), i -> w[i]), chr(1))
       |    AS repr, freq FROM wr),
       |${pairsD(1, "w0")},
       |${applyD(1, "w0")},
       |${pairsD(2, "w1")},
       |${applyD(2, "w1")},
       |${pairsD(3, "w2")},
       |${applyD(3, "w2")},
       |${pairsD(4, "w3")}""".stripMargin
  }

  /** The encode oracle's merge-application chain: fold the full-corpus
    * vocabulary (enc0) through each learned pair in rank order — the
    * identical list_reduce the learning chain uses, with the word
    * carried alongside. */
  private[queries] def bpeSqlEncChain: String =
    (1 to 4).map { r =>
      val src = if (r == 1) "enc0" else s"enc${r - 1}"
      s"""enc$r AS (SELECT w, list_reduce(string_split(repr, chr(1)),
         |    (acc, x) -> CASE WHEN ends_with(acc, chr(1) || b$r.pl)
         |        AND x = b$r.pr
         |      THEN acc || x ELSE acc || chr(1) || x END) AS repr
         |  FROM $src, b$r)""".stripMargin
    }.mkString(",\n")

  /** The classify oracle's WITH-chain up through the ranked scores —
    * shared by text_nb_classify (per-doc predictions) and
    * stream_nb_classify (the prediction-distribution monitor). */
  private[queries] def nbSqlRanked: String = {
    def t9(x: String) =
      s"CAST(CAST(ln($x) AS VARCHAR) AS DECIMAL(20,9))"
    s"""WITH train AS (SELECT lang, text FROM documents
       |  WHERE doc_id % 5 != 0 AND text IS NOT NULL AND lang IS NOT NULL),
       |tok AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
       |        FROM train),
       |cnt AS (SELECT lang, tok, COUNT(*) AS c FROM tok GROUP BY lang, tok),
       |cls AS (SELECT lang, COUNT(*) AS n_docs FROM train GROUP BY lang),
       |ctot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS ct FROM cnt
       |         GROUP BY lang),
       |v AS (SELECT COUNT(DISTINCT tok) AS v FROM tok),
       |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM cls),
       |prior AS (SELECT cls.lang,
       |    ${t9("CAST(cls.n_docs AS DOUBLE) / tot.total")} AS p9
       |  FROM cls, tot),
       |test AS (SELECT doc_id, lang, text FROM documents
       |         WHERE doc_id % 5 = 0 AND text IS NOT NULL),
       |ttok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |         FROM test),
       |term AS (SELECT tt.doc_id, cl.lang AS clang,
       |    ${t9("CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) / " +
             "CAST(ctot.ct + v.v AS DOUBLE)")} AS t9
       |  FROM ttok tt
       |  CROSS JOIN cls cl
       |  JOIN ctot ON ctot.lang = cl.lang
       |  CROSS JOIN v
       |  LEFT JOIN cnt c ON c.lang = cl.lang AND c.tok = tt.tok),
       |score AS (SELECT doc_id, clang, SUM(t9) AS ts
       |          FROM term GROUP BY doc_id, clang),
       |ranked AS (SELECT s.doc_id, s.clang, s.ts + pr.p9 AS sc,
       |    row_number() OVER (PARTITION BY s.doc_id
       |                       ORDER BY s.ts + pr.p9 DESC, s.clang) AS rn
       |  FROM score s JOIN prior pr ON pr.lang = s.clang)""".stripMargin
  }

  def decls: Seq[Decl] = Seq(

    // C6: corpus statistics by language (all-exact arithmetic).
    Decl("text_stats",
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
        |  CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
        |    AS avg_tokens
        |FROM documents GROUP BY lang
        |ORDER BY lang NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          (sum(col("n_chars")).cast(DoubleType) / count(lit(1))).as("avg_chars"),
          (sum(size(toks)).cast(DoubleType) / count(lit(1))).as("avg_tokens"))
        .orderBy("lang")
    },

    // C7: term frequencies — top-20 tokens per language.
    Decl("text_tf",
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |cnt AS (SELECT lang, tok, COUNT(*) AS n FROM tok GROUP BY lang, tok)
        |SELECT lang, tok, n, rn FROM (
        |  SELECT lang, tok, n, row_number() OVER (
        |    PARTITION BY lang ORDER BY n DESC, tok) AS rn
        |  FROM cnt) WHERE rn <= 20 ORDER BY lang, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("lang").orderBy(col("n").desc, col("tok"))
      Tables.documents(s, d)
        .select(col("lang"), explode(toks).as("tok"))
        .groupBy("lang", "tok")
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .orderBy("lang", "rn")
    },

    // C8: word bigrams, top-50 corpus-wide.
    Decl("text_ngrams",
      """WITH t AS (SELECT doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents)
        |SELECT a.tok || ' ' || b.tok AS bigram, COUNT(*) AS n
        |FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50""".stripMargin) { (s, d) =>
      // tokenize once per row — element_at over a re-split inside the
      // lambda would re-run split() per index (no CSE across lambdas).
      // size >= 2 filter: sequence(1, 0) is DESCENDING in Spark, so a
      // 1-token doc would index element_at(tks, 0) and throw under ANSI;
      // the oracle's pos-join drops those docs naturally.
      Tables.documents(s, d)
        .withColumn("tks", toks)
        .filter(size(col("tks")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(tks) - 1)," +
            " i -> concat(element_at(tks, i), ' ', element_at(tks, i + 1)))"))
          .as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(50)
    },

    // C9: TF-IDF for a probe slice of documents.
    Decl("text_tfidf",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok
        |       GROUP BY doc_id, tok),
        |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
        |nn AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.tok, tf.tf,
        |  ROUND(tf.tf * ln((nn.n + 1.0) / (df.df + 1.0)), 4) AS tfidf
        |FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN nn
        |WHERE tf.doc_id < 50 ORDER BY tf.doc_id, tf.tok""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("tok"))
      val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = tok.groupBy("tok").agg(countDistinct("doc_id").as("df"))
      val n = broadcast(Tables.documents(s, d).agg(count(lit(1)).as("n")))
      tf.join(df, "tok").crossJoin(n)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), col("tok"), col("tf"),
          round(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)), 4)
            .as("tfidf"))
        .orderBy("doc_id", "tok")
    },

    // Quality scoring: uniqueness / token-length / length heuristics
    // (all-exact integer ratios → bit-deterministic doubles).
    Decl("text_quality",
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tok,
        |  len(list_distinct(string_split(text, ' '))) AS n_uniq,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS uniq_ratio,
        |  CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |    / len(string_split(text, ' ')) AS avg_tok_len,
        |  least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
        |    * 0.5
        |    + CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) * 0.5 AS quality
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val nTok = size(toks)
      val nUniq = size(array_distinct(toks))
      val uniqRatio = nUniq.cast(DoubleType) / nTok
      Tables.documents(s, d).select(
        col("doc_id"), nTok.as("n_tok"), nUniq.as("n_uniq"),
        uniqRatio.as("uniq_ratio"),
        ((col("n_chars") - nTok + 1).cast(DoubleType) / nTok).as("avg_tok_len"),
        (least(nTok.cast(DoubleType) / 100.0, lit(1.0)) * 0.5
          + uniqRatio * 0.5).as("quality"))
        .orderBy("doc_id")
    },

    // Language-ID: deterministic stopword-marker heuristic (the point is
    // the operator shape — routing on a computed label — not NLP quality).
    Decl("text_lang_id",
      """SELECT doc_id, lang,
        |  CASE WHEN text LIKE '%the %' THEN 'en'
        |       WHEN text LIKE '%der %' THEN 'de'
        |       WHEN text LIKE '%el %' THEN 'es'
        |       WHEN text LIKE '%le %' THEN 'fr'
        |       ELSE 'zh' END AS lang_pred
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
        when(col("text").like("%the %"), "en")
          .when(col("text").like("%der %"), "de")
          .when(col("text").like("%el %"), "es")
          .when(col("text").like("%le %"), "fr")
          .otherwise("zh").as("lang_pred"))
        .orderBy("doc_id")
    },

    // Token counting two ways: whitespace + BPE-ish regex segmentation.
    Decl("text_token_count",
      """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |    AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        size(toks).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
          .as("bpe_tokens"))
        .orderBy("doc_id")
    },

    // Document fingerprinting (winnowing): 3-token k-gram hashes, sliding
    // min over a 4-window, distinct fingerprints kept. Hash fn is the
    // cross-engine sha60 (graft.functions.XHash), so the whole winnowing
    // pipeline replays exactly in DuckDB — full value oracle; golden +
    // idempotence properties stay in TextSpec.
    Decl("text_fingerprint",
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS tks
        |              FROM documents),
        |kg AS (SELECT doc_id,
        |    list_transform(range(1, len(tks) - 1),
        |      i -> CAST(('0x' || substr(sha256(concat_ws(' ', tks[i],
        |             tks[i + 1], tks[i + 2])), 1, 15)) AS BIGINT)) AS kg
        |  FROM docs WHERE len(tks) >= 6)
        |SELECT doc_id,
        |  len(list_distinct(list_transform(range(1, len(kg) - 2),
        |    i -> list_min(kg[i:i + 3])))) AS n_fp
        |FROM kg ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(size(toks) >= 6)
        .withColumn("tks", toks)
        .withColumn("kgrams",
          transform(sequence(lit(1), size(col("tks")) - 2, lit(1)),
            i => graft.functions.XHash.sha60(concat_ws(" ",
              element_at(col("tks"), i),
              element_at(col("tks"), i + lit(1)),
              element_at(col("tks"), i + lit(2))))))
        .withColumn("fps", expr(
          """transform(sequence(1, size(kgrams) - 3),
            | i -> array_min(slice(kgrams, i, 4)))""".stripMargin))
        .select(col("doc_id"), size(array_distinct(col("fps"))).as("n_fp"))
        .orderBy("doc_id")
    },

    // End-to-end cleaning pipeline — the composition a training-data
    // pipeline actually runs: language gate → quality gate (integer
    // ratio math, no float risk) → exact-dedup keep-min → per-language
    // survivor stats. One wide filter+map pass, one shuffle on the
    // content hash, a small final agg — nothing here grows with corpus
    // size except the hash groupBy, which partitions cleanly.
    Decl("pipeline_clean",
      """WITH q AS (
        |  SELECT doc_id, lang, text,
        |    len(string_split(text, ' ')) AS n_tok,
        |    len(list_distinct(string_split(text, ' '))) AS n_uniq
        |  FROM documents WHERE lang IN ('en', 'de', 'fr')),
        |g AS (SELECT * FROM q WHERE n_tok >= 20 AND n_uniq * 2 >= n_tok),
        |k AS (SELECT lang, min(doc_id) AS keep_id, min(n_tok) AS n_tok
        |      FROM g GROUP BY lang, sha256(text))
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(col("lang").isin("en", "de", "fr"))
        .withColumn("tks", toks)
        .withColumn("n_tok", size(col("tks")))
        .withColumn("n_uniq", size(array_distinct(col("tks"))))
        .filter(col("n_tok") >= 20 && col("n_uniq") * 2 >= col("n_tok"))
        .groupBy(col("lang"), sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), min(col("n_tok")).as("n_tok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast(LongType).as("total_tokens"))
        .orderBy("lang")
    },

    // C11: per-language routing (pipeline fan-out); the partitioned-write
    // flavor (`partitionBy("lang")`) is exercised in CatalogSpec.
    Decl("lang_route",
      """SELECT lang, source, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE lang IN ('en', 'de', 'fr')
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .filter(col("lang").isin("en", "de", "fr"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("lang", "source")
    },

    // C: text normalization — the standard cleaning step before hashing
    // or tokenizing: lowercase, strip non-alphanumerics, collapse runs
    // of spaces, trim. The regex class is deliberately dialect-neutral
    // (both engines agree on [^a-z0-9 ] and ' +'); DuckDB needs the 'g'
    // flag where Spark replaces globally by default.
    Decl("text_normalize",
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm,
        |  len(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS n_chars_norm
        |FROM documents WHERE text IS NOT NULL
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val norm = trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9 ]", " "), " +", " "))
      Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), norm.as("norm"),
          length(norm).as("n_chars_norm"))
        .orderBy("doc_id")
    },

    // PII SCRUB — the redaction pass every training-data pipeline is
    // required to run before text leaves curation: emails and phone
    // numbers replaced with typed placeholders, with per-doc redaction
    // counts and the sha-256 of the scrubbed text as the byte-exact
    // action proof (the text_span_scrub discipline). The fixture corpus
    // carries no PII, so — exactly like the synthesized PNG/WAV
    // payloads of the multimodal family — deterministic PII is PLANTED
    // from generator arithmetic (every 3rd doc an email, every 3rd a
    // phone number), which both engines construct identically; the
    // scrub is then measured against it. Regex patterns are
    // dialect-neutral (character classes + greedy quantifiers behave
    // identically in Java regex and RE2; DuckDB needs the 'g' flag
    // where Spark replaces globally by default). Map-only — scales as
    // a pure per-row pass.
    Decl("text_pii_scrub",
      s"""WITH a AS (SELECT doc_id, $piiAugSql AS t FROM documents
         |           WHERE text IS NOT NULL),
         |s AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(t, '$PiiEmailRe')) AS BIGINT)
         |      AS n_emails,
         |    CAST(len(regexp_extract_all(t, '$PiiPhoneRe')) AS BIGINT)
         |      AS n_phones,
         |    ${piiCleanSql("t")} AS clean
         |  FROM a)
         |SELECT doc_id, n_emails, n_phones,
         |  CAST(len(clean) AS BIGINT) AS clean_len,
         |  sha256(clean) AS clean_sha
         |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
      val aug = piiAugCol
      val clean = piiCleanCol(aug)
      Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"),
          regexp_count(aug, lit(PiiEmailRe)).cast(LongType).as("n_emails"),
          regexp_count(aug, lit(PiiPhoneRe)).cast(LongType).as("n_phones"),
          length(clean).cast(LongType).as("clean_len"),
          sha2(clean, 256).as("clean_sha"))
        .orderBy("doc_id")
    },

    // C: edit distance between adjacent part names — levenshtein is the
    // same DP algorithm in both engines, so the distances are exact.
    // Pairing by p_partkey + 1 keeps candidates linear (the blocking
    // discipline every text-similarity op here follows).
    Decl("text_edit_distance",
      """SELECT a.p_partkey AS k1, b.p_partkey AS k2,
        |  levenshtein(a.p_name, b.p_name) AS lev,
        |  length(a.p_name) AS len1, length(b.p_name) AS len2
        |FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
        |ORDER BY k1""".stripMargin) { (s, d) =>
      val p = Tables.part(s, d)
      p.select(col("p_partkey").as("k1"), col("p_name").as("n1"))
        .join(p.select(col("p_partkey").as("k2"), col("p_name").as("n2")),
          col("k2") === col("k1") + 1)
        .select(col("k1"), col("k2"),
          levenshtein(col("n1"), col("n2")).as("lev"),
          length(col("n1")).as("len1"), length(col("n2")).as("len2"))
        .orderBy("k1")
    },

    // C: PII redaction — scrub email addresses and phone-shaped digit
    // runs with dialect-neutral regexes (shared RE2/Java subset: no
    // lookaround, no backrefs). The corpus text carries no PII, so a
    // contact header is synthesized deterministically from doc columns
    // — identically in both engines — and the redaction provably fires
    // on every row (n_hits is part of the contract). Map-only at scale.
    Decl("pii_redact",
      """WITH withc AS (SELECT doc_id,
        |    'user' || CAST(doc_id AS VARCHAR) || '@mail-' || lang ||
        |      '.com ph 555-0' || CAST(doc_id % 1000 AS VARCHAR) || ' ' ||
        |      text AS contact
        |  FROM documents),
        |red AS (SELECT doc_id, contact,
        |    regexp_replace(regexp_replace(contact,
        |      '[A-Za-z0-9._-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |      '[0-9]{3}-[0-9]{2,5}', '<PHONE>', 'g') AS redacted
        |  FROM withc)
        |SELECT doc_id, length(contact) AS n_before,
        |  length(redacted) AS n_after,
        |  substr(redacted, 1, 40) AS head
        |FROM red ORDER BY doc_id""".stripMargin) { (s, d) =>
      val contact = concat(lit("user"), col("doc_id").cast(StringType),
        lit("@mail-"), col("lang"), lit(".com ph 555-0"),
        (col("doc_id") % 1000).cast(StringType), lit(" "), col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), contact.as("contact"))
        .withColumn("redacted",
          regexp_replace(regexp_replace(col("contact"),
            "[A-Za-z0-9._-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
            "[0-9]{3}-[0-9]{2,5}", "<PHONE>"))
        .select(col("doc_id"), length(col("contact")).as("n_before"),
          length(col("redacted")).as("n_after"),
          substring(col("redacted"), 1, 40).as("head"))
        .orderBy("doc_id")
    },

    // C: stopword filtering — lambda-filter the token array in place
    // (list_filter / functions.filter are the same higher-order map;
    // both codegen'd, no explode round-trip, no shuffle).
    Decl("stopword_filter",
      """WITH f AS (SELECT doc_id, string_split(text, ' ') AS tks,
        |    list_filter(string_split(text, ' '),
        |      t -> NOT list_contains(['a', 'the', 'table', 'row', 'value'],
        |        t)) AS kept
        |  FROM documents)
        |SELECT doc_id, len(tks) AS n_tokens, len(kept) AS n_kept,
        |  array_to_string(list_slice(kept, 1, 8), ' ') AS head
        |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
      val sw = Seq("a", "the", "table", "row", "value")
      val kept = filter(toks, t => !t.isInCollection(sw))
      Tables.documents(s, d)
        .select(col("doc_id"), size(toks).as("n_tokens"),
          size(kept).as("n_kept"),
          // concat_ws swallows a null array to '' — null text must stay
          // null (DuckDB's array_to_string is null-in-null-out)
          when(col("text").isNotNull,
            concat_ws(" ", slice(kept, 1, 8))).as("head"))
        .orderBy("doc_id")
    },

    // C: vocabulary coverage — the smallest frequency-ranked vocab
    // covering ≥90% of corpus tokens (tokenizer sizing). The windowed
    // cumulative runs over the VOCABULARY (distinct tokens), which is
    // sublinear in corpus size — the single-partition window is over
    // thousands of rows at 100 TB, not billions; the corpus-sized work
    // is all in the partial+final token count. The 90% gate compares
    // 10·cum ≥ 9·total in exact integers.
    Decl("vocab_coverage",
      """WITH tf AS (SELECT t AS token, count(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t
        |        FROM documents) GROUP BY t),
        |r AS (SELECT token, c,
        |    row_number() OVER (ORDER BY c DESC, token) AS rk,
        |    sum(c) OVER (ORDER BY c DESC, token
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER () AS total
        |  FROM tf)
        |SELECT CAST(min(rk) AS BIGINT) AS vocab90,
        |  CAST(max(total) AS BIGINT) AS total_tokens,
        |  CAST(count(*) AS BIGINT) AS n_tail
        |FROM r WHERE 10 * cum >= 9 * total""".stripMargin) { (s, d) =>
      val byFreq = Window.orderBy(col("c").desc, col("token"))
      val cum = byFreq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy()
      val tf = Tables.documents(s, d)
        .select(explode(toks).as("token"))
        .groupBy("token").agg(count(lit(1)).as("c"))
      tf.withColumn("rk", row_number().over(byFreq))
        .withColumn("cum", sum(col("c")).over(cum))
        .withColumn("total", sum(col("c")).over(all))
        .filter(lit(10) * col("cum") >= lit(9) * col("total"))
        .agg(min(col("rk")).cast(LongType).as("vocab90"),
          max(col("total")).as("total_tokens"),
          count(lit(1)).as("n_tail"))
    },

    // BM25 ranking for a two-term query — the IR scorer a retrieval
    // pipeline runs after candidate generation. tf/df/dl/N are exact
    // ints; idf's ln rides the same 1-ulp StrictMath-vs-libm hazard as
    // agg_entropy, so each per-(doc,term) score is quantized at scale 6
    // (drift ~1e-15 vs a 1e-6 grid) before the exact across-term sum.
    // Corpus stats travel as one broadcast row; everything else is the
    // explode → partial+final shape of text_tf.
    Decl("text_bm25", {
      val score = "idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))"
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tks,
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
         |  FROM documents WHERE text IS NOT NULL),
         |g AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |    CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE) / count(*) AS avgdl
         |  FROM d),
         |t AS (SELECT doc_id, dl, tok, CAST(count(*) AS DOUBLE) AS tf
         |  FROM (SELECT doc_id, dl, unnest(tks) AS tok FROM d)
         |  WHERE tok IN ('join', 'vector') GROUP BY doc_id, dl, tok),
         |dfq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM t
         |  GROUP BY tok),
         |sc AS (SELECT doc_id,
         |    CAST(CAST($score AS VARCHAR) AS DECIMAL(20,6)) AS s
         |  FROM (SELECT t.doc_id, t.dl, t.tf,
         |      ln((g.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) AS idf,
         |      g.avgdl
         |    FROM t JOIN dfq ON t.tok = dfq.tok CROSS JOIN g))
         |SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS score
         |FROM sc GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), toks.as("tks"),
          size(toks).cast(DoubleType).as("dl"))
      val g = docs.agg(count(lit(1)).cast(DoubleType).as("n"),
        (sum(col("dl").cast(LongType)).cast(DoubleType) /
          count(lit(1))).as("avgdl"))
      val t = docs.select(col("doc_id"), col("dl"), explode(col("tks")).as("tok"))
        .filter(col("tok").isin("join", "vector"))
        .groupBy("doc_id", "dl", "tok")
        .agg(count(lit(1)).cast(DoubleType).as("tf"))
      val dfq = t.groupBy(col("tok").as("dtok"))
        .agg(count(lit(1)).cast(DoubleType).as("df"))
      val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
      val score = col("idf") * col("tf") * 2.2 /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      t.join(broadcast(dfq), col("tok") === col("dtok"))
        .crossJoin(broadcast(g))
        .withColumn("idf", idf)
        .select(col("doc_id"), score.cast(DecimalType(20, 6)).as("s"))
        .groupBy("doc_id")
        .agg(sum(col("s")).cast(DoubleType).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
    },

    // URL canonicalization — the web-pipeline cleanup step (lowercase
    // host, strip tracking params) over deterministically synthesized
    // URLs (the corpus has none), with dialect-neutral regexes. The
    // synthesized column proves the regex plumbing fires on every row.
    Decl("url_normalize",
      """WITH u AS (SELECT doc_id,
        |    'https://WWW.Example' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.com/path/' || CAST(doc_id AS VARCHAR) ||
        |    '?id=' || CAST(doc_id % 13 AS VARCHAR) ||
        |    '&utm_source=feed&utm_campaign=c1' AS url
        |  FROM documents)
        |SELECT doc_id,
        |  lower(regexp_extract(url, 'https://([^/]+)/', 1)) AS host,
        |  regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
        |  regexp_replace(url, '&utm_[a-z]+=[^&]*', '', 'g') AS clean_url
        |FROM u ORDER BY doc_id""".stripMargin) { (s, d) =>
      val url = concat(lit("https://WWW.Example"),
        (col("doc_id") % 7).cast(StringType), lit(".com/path/"),
        col("doc_id").cast(StringType), lit("?id="),
        (col("doc_id") % 13).cast(StringType),
        lit("&utm_source=feed&utm_campaign=c1"))
      Tables.documents(s, d)
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"),
          lower(regexp_extract(col("url"), "https://([^/]+)/", 1)).as("host"),
          regexp_extract(col("url"), "https://[^/]+(/[^?]*)", 1).as("path"),
          regexp_replace(col("url"), "&utm_[a-z]+=[^&]*", "").as("clean_url"))
        .orderBy("doc_id")
    },

    // Exact heavy hitters: tokens above a 2% corpus share — the
    // integer-gate formulation (50·tf > total) of the frequent-items
    // question a Count-Min sketch answers approximately; one explode +
    // one partial+final count, the share division on identical ints.
    Decl("heavy_hitters",
      """WITH tf AS (SELECT t AS token, count(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t
        |        FROM documents) GROUP BY t),
        |tot AS (SELECT CAST(SUM(CAST(c AS BIGINT)) AS BIGINT) AS total
        |  FROM tf)
        |SELECT token, CAST(c AS BIGINT) AS c,
        |  CAST(c AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |FROM tf, tot WHERE 50 * c > total
        |ORDER BY c DESC, token""".stripMargin) { (s, d) =>
      val tf = Tables.documents(s, d)
        .select(explode(toks).as("token"))
        .groupBy("token").agg(count(lit(1)).as("c"))
      val tot = tf.agg(sum(col("c")).as("total"))
      tf.crossJoin(broadcast(tot))
        .filter(lit(50) * col("c") > col("total"))
        .select(col("token"), col("c"),
          (col("c").cast(DoubleType) / col("total").cast(DoubleType))
            .as("share"))
        .orderBy(col("c").desc, col("token"))
    },

    // Keyword extraction: the top-3 TF-IDF terms per document — the
    // metadata-enrichment step after text_tfidf. The RANKING must not
    // ride raw ln-derived doubles (1-ulp cross-engine drift could swap
    // near-ties), so scores are quantized at scale 6 BEFORE the window
    // and remaining ties break on the token — the text_bm25 contract
    // applied to ordering.
    Decl("text_keywords",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok
        |       GROUP BY doc_id, tok),
        |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
        |nn AS (SELECT COUNT(*) AS n FROM documents),
        |sc AS (SELECT tf.doc_id, tf.tok,
        |    CAST(CAST(tf.tf * ln((nn.n + 1.0) / (df.df + 1.0)) AS VARCHAR)
        |      AS DECIMAL(20,6)) AS score
        |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN nn)
        |SELECT doc_id, CAST(rk AS INTEGER) AS rk, tok,
        |  CAST(score AS DOUBLE) AS score
        |FROM (SELECT doc_id, tok, score, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, tok) AS rk FROM sc)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("tok"))
      val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = tok.groupBy(col("tok").as("dtok"))
        .agg(countDistinct("doc_id").as("df"))
      val n = broadcast(Tables.documents(s, d).agg(count(lit(1)).as("n")))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("tok"))
      // df is the corpus VOCAB document-frequency table — data-
      // dependent size (Heaps' law), so no broadcast hint: AQE picks
      // broadcast at small scale and a shuffle join once vocab outgrows
      // the threshold (the forced-broadcast-of-a-growing-side trap).
      tf.join(df, col("tok") === col("dtok")).crossJoin(n)
        .select(col("doc_id"), col("tok"),
          (col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)))
            .cast(DecimalType(20, 6)).as("score"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("tok"),
          col("score").cast(DoubleType).as("score"))
        .orderBy("doc_id", "rk")
    },

    // Repetition profile per document — the boilerplate/low-quality
    // signal (crawled corpora are full of token-looping junk): distinct
    // ratio and the heaviest single token's share, all exact integer
    // counts with identical double divisions. One explode + one
    // (doc, token) aggregate + one doc rollup.
    Decl("text_repetition",
      """WITH tc AS (SELECT doc_id, t, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |        FROM documents) GROUP BY doc_id, t),
        |d AS (SELECT doc_id, CAST(SUM(CAST(c AS BIGINT)) AS BIGINT)
        |    AS n_tok,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(MAX(c) AS BIGINT) AS top_c
        |  FROM tc GROUP BY doc_id)
        |SELECT doc_id, n_tok, n_distinct,
        |  CAST(top_c AS DOUBLE) / CAST(n_tok AS DOUBLE) AS top_share,
        |  1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE)
        |    AS rep_ratio
        |FROM d ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_c"))
        .select(col("doc_id"), col("n_tok"), col("n_distinct"),
          (col("top_c").cast(DoubleType) / col("n_tok").cast(DoubleType))
            .as("top_share"),
          (lit(1.0) - col("n_distinct").cast(DoubleType) /
            col("n_tok").cast(DoubleType)).as("rep_ratio"))
        .orderBy("doc_id")
    },

    // Gopher-style rule filter — the published heuristic gate battery
    // (Rae et al. 2021, table A1 shapes): token-count bounds, mean
    // token length bounds, stopword-hit requirement, and a max-repetition
    // bound, each emitted as its own flag so downstream can audit WHICH
    // rule fired, plus the conjunction as `keep`. All counts are exact
    // integers; the two ratios are identical single double divisions.
    // Scale: one explode-free pass (array built-ins only) + one exact
    // per-doc token aggregate — map-side heavy, one shuffle on doc_id.
    // CTE text + keep predicate are shared with the composed
    // curation_pipeline_e2e oracle (sqlGopherCtes/sqlGopherKeep).
    Decl("text_gopher_rules",
      s"""WITH $sqlGopherCtes
        |SELECT doc_id, n_tok, mean_tok_len, n_stop, top_share,
        |  n_tok BETWEEN 10 AND 100000 AS pass_len,
        |  mean_tok_len BETWEEN 2 AND 12 AS pass_tok_len,
        |  n_stop >= 1 AS pass_stop,
        |  top_share <= 0.2 AS pass_rep,
        |  $sqlGopherKeep AS keep
        |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
      val stops = Seq("the", "of", "and", "der", "el", "le")
      val agg = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tok"), max(col("c")).as("top_c"))
      val meanTokLen =
        (col("n_chars") - col("n_tok") + 1).cast(DoubleType) / col("n_tok")
      val topShare = col("top_c").cast(DoubleType) / col("n_tok")
      val passLen = col("n_tok").between(10, 100000)
      val passTokLen = col("mean_tok_len").between(2.0, 12.0)
      val passStop = col("n_stop") >= 1
      val passRep = col("top_share") <= 0.2
      Tables.documents(s, d).join(agg, Seq("doc_id"))
        .select(col("doc_id"), col("n_tok"),
          meanTokLen.as("mean_tok_len"),
          size(array_intersect(toks,
            array(stops.map(lit): _*))).cast(LongType).as("n_stop"),
          topShare.as("top_share"))
        .select(col("doc_id"), col("n_tok"), col("mean_tok_len"),
          col("n_stop"), col("top_share"),
          passLen.as("pass_len"), passTokLen.as("pass_tok_len"),
          passStop.as("pass_stop"), passRep.as("pass_rep"),
          (passLen && passTokLen && passStop && passRep).as("keep"))
        .orderBy("doc_id")
    },

    // First BPE-merge statistics — the pair-count step every byte-pair
    // tokenizer induction starts from: adjacent character pairs within
    // tokens, counted corpus-wide, top-20. The pair explosion is a
    // per-row flatMap (≈ word length multiplier); the count is a
    // partial+final aggregate on the pair key, and the top-20 is
    // TakeOrderedAndProject — never a global sort. The len >= 2 filter
    // runs BEFORE the index explode (Spark's sequence() turns
    // descending when stop < start — the repo-wide guard idiom).
    Decl("text_bpe_pairs",
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |p AS (SELECT substr(w, i, 2) AS pair
        |      FROM (SELECT w, unnest(range(1, len(w))) AS i
        |            FROM w WHERE len(w) >= 2))
        |SELECT pair, COUNT(*) AS n FROM p GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(toks).as("w"))
        .filter(length(col("w")) >= 2)
        .select(col("w"), explode(sequence(lit(1), length(col("w")) - 1))
          .as("i"))
        .select(col("w").substr(col("i"), lit(2)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("pair")).limit(20)
    },

    // BPE merge LEARNING — the tokenizer-training primitive itself
    // (text_bpe_pairs above is one round's pair count; this runs the
    // actual iterative algorithm): 4 rounds of
    //   count adjacent symbol pairs (freq-weighted, over the DISTINCT
    //   word table) → pick the best pair (count DESC, then pair ASC)
    //   → merge every left-to-right non-overlapping occurrence.
    // Representation: a word's symbol sequence is a chr(1)-separated
    // string ("hello"); the merge
    // application is a STRING FOLD over the split tokens — append
    // WITHOUT the separator when the accumulator ends with sep+left
    // and the next symbol is right, else with it. The suffix test is
    // boundary-exact (sep never occurs inside a symbol) and the fold
    // is canonical leftmost non-overlapping BPE ("aaa" + (a,a) →
    // [aa, a], never [a, aa]; a symbol merged this round can't chain
    // because left||right ≠ left). Both engines run the IDENTICAL
    // fold — Spark aggregate(), DuckDB list_reduce (whose seed is the
    // split's leading empty string, reproducing Spark's '' zero) — so
    // all four learned merges are exactly oracled. Words restricted to
    // \A[a-z]{2,12}\z — pure-ASCII sidesteps any cross-engine
    // unicode indexing delta, and the \A/\z anchors (identical in
    // Java regex and RE2) avoid the $-before-trailing-newline
    // divergence: Java `$` matches before a final line terminator,
    // RE2 `$` only at end-of-text, so a token like "abc\n" would
    // pass Spark's `$` filter and fail DuckDB's.
    // Scale: each round is ONE pair-count shuffle over the distinct-
    // word table (corpus-vocabulary-sized, not corpus-sized — the
    // word-freq rollup happens once up front) + a broadcast 1-row
    // best-pair frame + a map-side fold; K rounds = K bounded shuffles,
    // the graph_components loop pattern applied to tokenizer training.
    Decl("text_bpe_learn",
      s"""WITH $bpeSqlChain
         |SELECT * FROM (
         |  SELECT 1 AS mrank, pl, pr, n FROM b1
         |  UNION ALL SELECT 2, pl, pr, n FROM b2
         |  UNION ALL SELECT 3, pl, pr, n FROM b3
         |  UNION ALL SELECT 4, pl, pr, n FROM b4)
         |ORDER BY mrank""".stripMargin) { (s, d) =>
      bpeLearnRounds(s, d).zipWithIndex.map { case (best, i) =>
        best.select(lit(i + 1).as("mrank"), col("pl"), col("pr"), col("n"))
      }.reduce(_.unionAll(_)).orderBy("mrank")
    },

    // The learned tokenizer APPLIED — train→encode in one declared
    // dataflow, the same discipline as text_nb_classify and
    // multimodal_pca_project: the 4 merges learned on the doc_id < 200
    // slice encode the FULL corpus, and the per-document outcome (word
    // count, character-symbol count, post-merge BPE token count — the
    // compression a tokenizer team actually tracks) is pure integer
    // arithmetic, exactly oracled through the identical fold chain.
    // Scale: encoding runs over the DISTINCT word table (the merge
    // folds are vocabulary-bounded work, never corpus-sized), then one
    // token-keyed join fans the symbol counts back to the corpus —
    // stopwords are the skewed keys, AQE territory, same shape as
    // text_unigram_nll's count join.
    Decl("text_bpe_encode",
      s"""WITH $bpeSqlChain,
         |enc0 AS (SELECT w, chr(1) || array_to_string(
         |    list_transform(range(1, len(w) + 1), i -> w[i]), chr(1))
         |    AS repr FROM (
         |  SELECT DISTINCT w FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
         |    WHERE text IS NOT NULL)
         |  WHERE regexp_matches(w, '\\A[a-z]{2,12}\\z'))),
         |${bpeSqlEncChain},
         |encn AS (SELECT w,
         |    len(string_split(repr, chr(1))) - 1 AS n_sym FROM enc4),
         |td AS (SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |    FROM documents WHERE text IS NOT NULL)
         |  WHERE regexp_matches(w, '\\A[a-z]{2,12}\\z'))
         |SELECT doc_id, COUNT(*) AS n_words,
         |  CAST(SUM(len(w)) AS BIGINT) AS n_chars,
         |  CAST(SUM(n_sym) AS BIGINT) AS n_bpe
         |FROM td JOIN encn USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val bests = bpeLearnRounds(s, d)
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val keep = col("w").rlike("\\A[a-z]{2,12}\\z")
      var enc = docs.select(explode(toks).as("w")).filter(keep).distinct()
        .select(col("w"), expr(
          "concat(chr(1), array_join(transform(sequence(1, length(w)), " +
            "i -> substring(w, i, 1)), chr(1)))").as("repr"))
        .localCheckpoint(false)
      for (b <- bests) enc = bpeApply(enc, b, "w")
      val nsym = enc.select(col("w"),
        size(expr("array_remove(split(repr, chr(1)), '')")).as("n_sym"))
      docs.select(col("doc_id"), explode(toks).as("w")).filter(keep)
        .join(nsym, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("w"))).cast(LongType).as("n_chars"),
          sum(col("n_sym")).cast(LongType).as("n_bpe"))
        .orderBy("doc_id")
    },

    // Unigram-LM negative log-likelihood per document — the perplexity
    // proxy LLM pipelines score quality with when a real LM is too
    // expensive: p(tok) from corpus-wide counts, nll = -Σ ln p. Each
    // ln term is a correctly-rounded double of identical integer-ratio
    // args in both engines; the per-doc SUM is made order-independent
    // by the repo's DECIMAL(20,9) exact-sum idiom (the oracle's VARCHAR
    // hop matches Spark's shortest-repr HALF_UP cast). avg_nll is then
    // one divide of bit-identical operands. Scale: the count table is
    // vocab-sized — the tok⋈cnt join shuffles on the token key where
    // stopwords are exactly the skewed keys (AQE skew-split territory);
    // only the 1-row grand total broadcasts.
    Decl("text_unigram_nll",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
        |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM cnt)
        |SELECT doc_id, COUNT(*) AS n_tok,
        |  CAST(SUM(CAST(CAST(-ln(CAST(c AS DOUBLE) / n) AS VARCHAR)
        |    AS DECIMAL(20,9))) AS DOUBLE) AS nll_sum,
        |  CAST(SUM(CAST(CAST(-ln(CAST(c AS DOUBLE) / n) AS VARCHAR)
        |    AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*) AS avg_nll
        |FROM tok JOIN cnt USING (tok), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("tok"))
      val cnt = tok.groupBy("tok").agg(count(lit(1)).as("c"))
      val tot = cnt.agg(sum("c").cast(DoubleType).as("n"))
      tok.join(cnt, "tok").crossJoin(broadcast(tot))
        .select(col("doc_id"),
          (-log(col("c").cast(DoubleType) / col("n"))).as("nll"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(col("nll").cast(DecimalType(20, 9))).cast(DoubleType)
            .as("nll_sum"))
        .withColumn("avg_nll", col("nll_sum") / col("n_tok"))
        .orderBy("doc_id")
    },

    // Interpolated bigram-LM negative log-likelihood — the step up
    // from text_unigram_nll that a perplexity filter actually ships:
    // p̂(w2|w1) = 0.75·c(w1 w2)/c(w1 ·) + 0.25·(c(w2)+1)/(N+V)
    // (Jelinek-Mercer interpolation with a Laplace-smoothed unigram
    // floor, so unseen bigrams — and entirely unseen words — score
    // finite instead of infinite). Model trained on the 80% doc_id
    // split, held-out 20% scored: the text_nb_train split discipline,
    // which is what makes the score a FILTER (train on corpus, score
    // incoming docs) rather than self-description. Every p̂ is plain
    // IEEE arithmetic on integer-valued doubles (two divides, two
    // multiplies, one add — identical operand order both engines);
    // each -ln term rides the DECIMAL(20,9) VARCHAR-hop idiom and the
    // per-doc sum is exact. Scale: the bigram model is
    // bigram-TYPE-bounded (vocab², in practice Zipf-truncated — the
    // model table of any production LM filter), context totals roll
    // up from it, scoring joins test bigrams against the model on the
    // token keys (stopword bigrams are the skewed keys, AQE
    // territory), and only the 1-row (N, V) frame broadcasts.
    Decl("text_bigram_nll", {
      def ln9(x: String) =
        s"CAST(CAST(CAST(ln($x) AS VARCHAR) AS DECIMAL(20,9)) AS DOUBLE)"
      val pHat =
        """0.75 * (CASE WHEN ctx.c1 > 0
          |      THEN CAST(COALESCE(big.c12, 0) AS DOUBLE) /
          |           CAST(ctx.c1 AS DOUBLE) ELSE 0.0 END)
          |    + 0.25 * (CAST(COALESCE(uni.c2, 0) + 1 AS DOUBLE) /
          |              CAST(nv.n + nv.v AS DOUBLE))""".stripMargin
      s"""WITH train AS (SELECT text FROM documents
         |  WHERE doc_id % 5 != 0 AND text IS NOT NULL),
         |ttk AS (SELECT string_split(text, ' ') AS tks FROM train),
         |big AS MATERIALIZED (
         |  SELECT tks[i] AS w1, tks[i + 1] AS w2, COUNT(*) AS c12
         |  FROM ttk, UNNEST(range(1, len(tks))) AS u(i) GROUP BY 1, 2),
         |ctx AS MATERIALIZED (
         |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM big GROUP BY w1),
         |uni AS MATERIALIZED (
         |  SELECT tok, COUNT(*) AS c2 FROM (
         |    SELECT unnest(string_split(text, ' ')) AS tok FROM train)
         |  GROUP BY tok),
         |nv AS (SELECT CAST(SUM(c2) AS BIGINT) AS n,
         |         COUNT(*) AS v FROM uni),
         |test AS (SELECT doc_id, string_split(text, ' ') AS tks
         |  FROM documents WHERE doc_id % 5 = 0 AND text IS NOT NULL
         |    AND len(string_split(text, ' ')) >= 2),
         |tb AS (SELECT doc_id, tks[i] AS w1, tks[i + 1] AS w2
         |       FROM test, UNNEST(range(1, len(tks))) AS u(i)),
         |sc AS (SELECT tb.doc_id, -${ln9(s"($pHat)")} AS nll
         |  FROM tb LEFT JOIN big ON big.w1 = tb.w1 AND big.w2 = tb.w2
         |          LEFT JOIN ctx ON ctx.w1 = tb.w1
         |          LEFT JOIN uni ON uni.tok = tb.w2, nv)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(CAST(CAST(nll AS VARCHAR) AS DECIMAL(20,9)))
         |    AS DOUBLE) AS nll_sum,
         |  CAST(SUM(CAST(CAST(nll AS VARCHAR) AS DECIMAL(20,9)))
         |    AS DOUBLE) / COUNT(*) AS avg_nll
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      // size >= 2 guard: sequence(0, size - 2) turns DESCENDING for a
      // 1-token doc (the dedup_ngram lesson); DuckDB's range(1, len)
      // is just empty there
      def bigrams(df: DataFrame): DataFrame =
        df.filter(size(col("tks")) >= 2)
          .withColumn("bg", explode(expr(
            "transform(sequence(0, size(tks) - 2), " +
              "i -> struct(tks[i] AS w1, tks[i + 1] AS w2))")))
          .select(col("doc_id"), col("bg.w1").as("w1"),
            col("bg.w2").as("w2"))
      val docs = Tables.documents(s, d)
      val train = docs.filter(col("doc_id") % 5 =!= 0
          && col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("tks"))
      // the bigram count table IS the model — bigram-type-bounded;
      // checkpoint once: it feeds ctx and the scoring join
      val big = bigrams(train)
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .localCheckpoint(false)
      val ctx = big.groupBy("w1").agg(sum("c12").as("c1"))
      val uni = train.select(explode(col("tks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c2"))
        .localCheckpoint(false) // feeds (N, V) and the scoring join
      val nv = broadcast(uni.agg(sum("c2").as("n"),
        count(lit(1)).as("v")))
      val test = docs.filter(col("doc_id") % 5 === 0
          && col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("tks"))
        .filter(size(col("tks")) >= 2)
      val tb = bigrams(test)
      val p = lit(0.75) *
        when(col("c1") > 0,
          coalesce(col("c12"), lit(0L)).cast(DoubleType) /
            col("c1").cast(DoubleType)).otherwise(0.0) +
        lit(0.25) * ((coalesce(col("c2"), lit(0L)) + 1).cast(DoubleType) /
          (col("n") + col("v")).cast(DoubleType))
      tb.join(big, Seq("w1", "w2"), "left")
        .join(ctx, Seq("w1"), "left")
        .join(uni.withColumnRenamed("tok", "w2"), Seq("w2"), "left")
        .crossJoin(nv)
        .select(col("doc_id"),
          (-log(p).cast(DecimalType(20, 9)).cast(DoubleType)).as("nll"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("nll").cast(DecimalType(20, 9))).cast(DoubleType)
            .as("nll_sum"))
        .withColumn("avg_nll", col("nll_sum") / col("n_bigrams"))
        .orderBy("doc_id")
    },

    // Fixed-weight linear quality classifier — the fasttext-style
    // "trained filter" stage of a data pipeline, reduced to its exact
    // arithmetic skeleton: three integer features (uniqueness percent,
    // capped length, stopword-share percent), fixed integer weights,
    // and a threshold decision. Everything is integer DIV on positive
    // operands, so the score — and the keep/drop decision — is
    // bit-identical across engines with NO float boundary risk (the
    // repo's integer-gate idiom). Threshold 270 ≈ the corpus median at
    // every test scale, so both classes stay populated. Map-only: the
    // features come from one projection pass, no shuffle at all.
    Decl("quality_classify",
      """SELECT doc_id, n_tok, uniq_pct, stop_pct,
        |  3 * uniq_pct + 2 * least(n_tok, 150) + 5 * stop_pct AS score,
        |  CASE WHEN 3 * uniq_pct + 2 * least(n_tok, 150) + 5 * stop_pct
        |    >= 270 THEN 1 ELSE 0 END AS keep
        |FROM (SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tok,
        |    (100 * len(list_distinct(string_split(text, ' '))))
        |      // len(string_split(text, ' ')) AS uniq_pct,
        |    (100 * len(list_filter(string_split(text, ' '),
        |        x -> x IN ('the', 'and', 'of', 'to', 'in'))))
        |      // len(string_split(text, ' ')) AS stop_pct
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val nTok = size(toks)
      val nStop = size(expr("filter(split(text, ' '), " +
        "x -> x IN ('the', 'and', 'of', 'to', 'in'))"))
      val score = lit(3) * col("uniq_pct") +
        lit(2) * least(col("n_tok"), lit(150)) + lit(5) * col("stop_pct")
      Tables.documents(s, d)
        .select(col("doc_id"), nTok.as("n_tok"),
          expr(s"(100 * size(array_distinct(split(text, ' ')))) DIV " +
            "size(split(text, ' '))").as("uniq_pct"),
          (lit(100) * nStop).as("stop100"))
        .select(col("doc_id"), col("n_tok"), col("uniq_pct"),
          expr("stop100 DIV n_tok").as("stop_pct"))
        .select(col("doc_id"), col("n_tok"), col("uniq_pct"),
          col("stop_pct"), score.as("score"),
          when(score >= 270, 1).otherwise(0).as("keep"))
        .orderBy("doc_id")
    },

    // Count-Min sketch over the token stream — the streaming-frequency
    // sketch, built as pure dataflow and (unusually) VALUE-LEVEL
    // ORACLED: because both engines share the sha60 hash family, the
    // 4×1024 counter array and every estimate are deterministic
    // integers, so the sketch itself hash-compares exactly (the same
    // trick that oracles the MinHash/SimHash pipelines). Build = one
    // partial+final count at (depth × width) = 4096-key cardinality —
    // THE point of CMS at 100 TB: the shuffle carries a bounded
    // sketch, never the vocabulary. Probe = the exact top-20 tokens ×
    // 4 rows joined against the sketch, min over depths; the output
    // pins the one-sided CMS guarantee est ≥ true per row.
    Decl("sketch_cms", {
      import graft.functions.XHash.sqlSha60
      val h = sqlSha60("'cms' || CAST(t.j AS VARCHAR) || ':' || tok")
      s"""WITH occ AS (SELECT unnest(string_split(text, ' ')) AS tok
         |             FROM documents),
         |cnt AS (SELECT tok, COUNT(*) AS n FROM occ GROUP BY tok),
         |q AS (SELECT tok, n FROM cnt ORDER BY n DESC, tok LIMIT 20),
         |cms AS (SELECT t.j, $h % 1024 AS b, COUNT(*) AS c
         |        FROM occ, range(0, 4) t(j) GROUP BY t.j, b),
         |qb AS (SELECT q.tok, q.n, t.j, $h % 1024 AS b
         |       FROM q, range(0, 4) t(j))
         |SELECT qb.tok, qb.n AS true_n, CAST(MIN(c) AS BIGINT) AS est,
         |  CASE WHEN MIN(c) >= qb.n THEN 1 ELSE 0 END AS ok
         |FROM qb JOIN cms ON qb.j = cms.j AND qb.b = cms.b
         |GROUP BY qb.tok, qb.n ORDER BY qb.tok""".stripMargin
    }) { (s, d) =>
      import graft.functions.XHash.sha60
      def bucket = (sha60(concat(lit("cms"), col("j").cast(StringType),
        lit(":"), col("tok"))) % 1024).as("b")
      val occ = Tables.documents(s, d).select(explode(toks).as("tok"))
      val cnt = occ.groupBy("tok").agg(count(lit(1)).as("n"))
      val q = cnt.orderBy(desc("n"), col("tok")).limit(20)
      val cms = occ
        .select(col("tok"), explode(sequence(lit(0), lit(3))).as("j"))
        .select(col("j"), bucket)
        .groupBy("j", "b").agg(count(lit(1)).as("c"))
      val qb = q
        .select(col("tok"), col("n"),
          explode(sequence(lit(0), lit(3))).as("j"))
        .select(col("tok"), col("n"), col("j"), bucket)
      qb.join(cms, Seq("j", "b"))
        .groupBy("tok", "n")
        .agg(min("c").as("est"))
        .select(col("tok"), col("n").as("true_n"), col("est"),
          when(col("est") >= col("n"), 1).otherwise(0).as("ok"))
        .orderBy("tok")
    },

    // Pointwise mutual information over document-level token
    // co-occurrence — the association score behind collocation mining
    // and word-embedding objectives. Counts (c1, c2, c12, N) are exact
    // ints; the PMI ratio (c12·N)/(c1·c2) is one IEEE divide of
    // integer-valued doubles (bit-identical cross-engine) and ln() goes
    // through the same decimal(20,9) rounding hop agg_entropy pins.
    // Scale: presence is one distinct on (doc, tok); the pair join is
    // presence⋈presence on doc_id — vocabulary-bounded fan-out, and the
    // pair aggregate is partial+final on (t1, t2).
    Decl("cooccur_pmi",
      """WITH pres AS (SELECT DISTINCT doc_id,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
        |df AS (SELECT tok, COUNT(*) AS df FROM pres GROUP BY tok),
        |pair AS (SELECT a.tok AS t1, b.tok AS t2, COUNT(*) AS c12
        |  FROM pres a JOIN pres b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY a.tok, b.tok)
        |SELECT t1, t2, c12,
        |  CAST(CAST(CAST(ln((CAST(c12 AS DOUBLE) * nd) /
        |      (CAST(d1.df AS DOUBLE) * d2.df)) AS VARCHAR)
        |    AS DECIMAL(20,9)) AS DOUBLE) AS pmi9
        |FROM pair, n
        |JOIN df d1 ON t1 = d1.tok JOIN df d2 ON t2 = d2.tok
        |WHERE c12 >= 5 ORDER BY t1, t2""".stripMargin) { (s, d) =>
      // r17 (§2.4/§3.3 — don't join what one group-by can carry): the
      // presence SELF-join on doc_id cost two join-side exchanges plus
      // the distinct's — 5 exchanges end to end. The per-doc token SET
      // is vocabulary-bounded, so ONE groupBy(doc_id) collects it as a
      // sorted array (subsuming the distinct — collect_set dedups) and
      // Dedup.pairsWithin explodes its ordered pairs MAP-SIDE (a.tok <
      // b.tok, since sort_array and the string `<` share UTF8 binary
      // order — see its scaladoc). Same pair multiset ⇒ identical
      // c12/df/pmi. Plan (cooccur_pmi_{before,after}.txt): the pair
      // join — broadcast at test scale, a full presence shuffle once
      // pres outgrows the threshold at production scale — is GONE,
      // replaced by two whole-stage Generates feeding the (t1,t2)
      // partial aggregate; the distinct's exchange is subsumed by the
      // collect_set groupBy.
      val grouped = Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("tok"))
        .groupBy("doc_id")
        .agg(sort_array(collect_set(col("tok"))).as("arr"))
        .localCheckpoint()
      val nd = Tables.documents(s, d)
        .agg(countDistinct("doc_id").as("nd"))
      val df = grouped.select(explode(col("arr")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
        .localCheckpoint()
      val pair = Dedup.pairsWithin(grouped, "arr")
        .select(col("p1").as("t1"), col("p2").as("t2"))
        .groupBy("t1", "t2")
        .agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
      pair.crossJoin(broadcast(nd))
        .join(broadcast(df.select(col("tok").as("t1"), col("df").as("df1"))),
          Seq("t1"))
        .join(broadcast(df.select(col("tok").as("t2"), col("df").as("df2"))),
          Seq("t2"))
        .select(col("t1"), col("t2"), col("c12"),
          log((col("c12").cast(DoubleType) * col("nd")) /
            (col("df1").cast(DoubleType) * col("df2")))
            .cast(DecimalType(20, 9)).cast(DoubleType).as("pmi9"))
        .orderBy("t1", "t2")
    },

    // Inverted index — token → document-frequency, total occurrences,
    // and the head of the sorted posting list (first 20 doc ids). The
    // fixture vocabulary is small and dense, so whole posting lists
    // would be ~every doc id; pinning the sorted head keeps the output
    // bounded while still value-checking postings order. Scale: a real
    // Zipf corpus emits (tok, doc, tf) from one explode+agg, and the
    // posting list is a collect over the (tok) shuffle — per-token
    // memory is the posting run, which production engines segment;
    // the head-slice here is that segmentation's first block.
    Decl("inverted_index",
      """WITH occ AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |p AS (SELECT tok, doc_id, COUNT(*) AS tf
        |      FROM occ GROUP BY tok, doc_id)
        |SELECT tok, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS n_occ,
        |  array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 20),
        |    ',') AS postings_head
        |FROM p GROUP BY tok ORDER BY tok""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(toks).as("tok"))
        .groupBy("tok", "doc_id")
        .agg(count(lit(1)).as("tf"))
        .groupBy("tok")
        .agg(count(lit(1)).as("df"), sum("tf").as("n_occ"),
          array_join(slice(sort_array(collect_list(col("doc_id"))), 1, 20),
            ",").as("postings_head"))
        .orderBy("tok")
    },

    // Character-level Shannon entropy per document — the gibberish /
    // encoding-noise filter (low entropy = repeated filler, high =
    // random bytes; natural text sits in a narrow band). Splitting on
    // the empty regex yields one element per char in BOTH engines
    // (Spark split = java.util.regex, DuckDB string_split_regex).
    // Each p·ln p term is quantized at DECIMAL(20,9) before the exact
    // decimal sum — the repo's cross-engine idiom for ln() (Spark
    // StrictMath vs DuckDB libm differ by 1 ulp on some args; the 1e-9
    // quantum is nine orders above that drift). Scale: explode is
    // char-count linear (map-side), then two hash aggregates keyed by
    // (doc_id, char) and doc_id — partial+final, no skew beyond doc
    // length itself.
    Decl("text_char_entropy",
      """WITH ch AS (SELECT doc_id,
        |    unnest(string_split_regex(text, '')) AS c
        |  FROM documents WHERE text IS NOT NULL),
        |cc AS (SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS k
        |       FROM ch GROUP BY doc_id, c),
        |n AS (SELECT doc_id, CAST(SUM(CAST(k AS BIGINT)) AS DOUBLE) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct
        |  FROM cc GROUP BY doc_id)
        |SELECT cc.doc_id, CAST(n AS BIGINT) AS n_chars, n_distinct,
        |  -CAST(SUM(CAST(CAST((k / n) * ln(k / n) AS VARCHAR)
        |    AS DECIMAL(20,9))) AS DOUBLE) AS entropy
        |FROM cc JOIN n ON cc.doc_id = n.doc_id
        |GROUP BY cc.doc_id, n, n_distinct
        |ORDER BY cc.doc_id""".stripMargin) { (s, d) =>
      val cc = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
        .groupBy("doc_id", "c")
        .agg(count(lit(1)).cast(DoubleType).as("k"))
      val n = cc.groupBy(col("doc_id").as("nd"))
        .agg(sum(col("k").cast(LongType)).cast(DoubleType).as("n"),
          count(lit(1)).as("n_distinct"))
      val p = col("k") / col("n")
      cc.join(n, col("doc_id") === col("nd"))
        .groupBy(col("doc_id"), col("n"), col("n_distinct"))
        .agg((-sum((p * log(p)).cast(DecimalType(20, 9)))
          .cast(DoubleType)).as("entropy"))
        .select(col("doc_id"), col("n").cast(LongType).as("n_chars"),
          col("n_distinct"), col("entropy"))
        .orderBy("doc_id")
    },

    // Multinomial Naive Bayes, TRAINED IN THE ENGINE — the learned
    // counterpart of the fixed-weight quality_classify: language
    // classification from per-(class, token) corpus counts, no external
    // weights. Training is pure distributed counting (the 80% split
    // doc_id % 5 != 0): class priors, per-class token counts with
    // Laplace smoothing over the train vocabulary. Every model
    // parameter is ln() of a ratio of exact integers — one IEEE divide
    // of integer-valued doubles (bit-identical cross-engine) quantized
    // at DECIMAL(20,9) (the text_unigram_nll ln discipline), so the
    // LEARNED MODEL ITSELF is value-oracled: this query emits the
    // per-class prior and the top-10 likelihood rows per class.
    // Scale: the count shuffle is (class × vocab)-bounded after
    // map-side partials — tokenizer-training shape, never corpus-sized.
    Decl("text_nb_train", {
      def ln9(x: String) =
        s"CAST(CAST(CAST(ln($x) AS VARCHAR) AS DECIMAL(20,9)) AS DOUBLE)"
      s"""WITH train AS (SELECT lang, text FROM documents
         |  WHERE doc_id % 5 != 0 AND text IS NOT NULL AND lang IS NOT NULL),
         |tok AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
         |        FROM train),
         |cnt AS (SELECT lang, tok, COUNT(*) AS c FROM tok GROUP BY lang, tok),
         |cls AS (SELECT lang, COUNT(*) AS n_docs FROM train GROUP BY lang),
         |ctot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS ct FROM cnt
         |         GROUP BY lang),
         |v AS (SELECT COUNT(DISTINCT tok) AS v FROM tok),
         |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM cls),
         |top AS (SELECT lang, tok, c, row_number() OVER (
         |    PARTITION BY lang ORDER BY c DESC, tok) AS rn FROM cnt)
         |SELECT t.lang, cls.n_docs, ctot.ct,
         |  ${ln9("CAST(cls.n_docs AS DOUBLE) / tot.total")} AS logprior9,
         |  CAST(t.rn AS INTEGER) AS rn, t.tok, t.c,
         |  ${ln9("CAST(t.c + 1 AS DOUBLE) / CAST(ctot.ct + v.v AS DOUBLE)")}
         |    AS loglik9
         |FROM top t
         |JOIN cls ON cls.lang = t.lang
         |JOIN ctot ON ctot.lang = t.lang, v, tot
         |WHERE t.rn <= 10 ORDER BY t.lang, t.rn""".stripMargin
    }) { (s, d) =>
      val train = Tables.documents(s, d)
        .filter(col("doc_id") % 5 =!= 0 && col("text").isNotNull
          && col("lang").isNotNull)
      val tok = train.select(col("lang"), explode(toks).as("tok"))
      // the (class, token) count table is the MODEL — vocab-bounded.
      // Checkpoint it once: it feeds the top-k window, the class
      // totals and the vocab size, and without the cut each consumer
      // re-derives the corpus-wide explode+count (the cooccur_pmi /
      // simjoin_prefix re-execution lesson).
      val cnt = tok.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        .localCheckpoint(false)
      val cls = train.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val ctot = cnt.groupBy("lang").agg(sum("c").as("ct"))
      // vocab size off the checkpointed MODEL table (same distinct-token
      // set as the corpus stream, at vocab cost instead of corpus cost)
      val v = broadcast(cnt.agg(countDistinct("tok").as("v")))
      val tot = broadcast(cls.agg(sum("n_docs").as("total")))
      def ln9(x: Column) =
        log(x).cast(DecimalType(20, 9)).cast(DoubleType)
      val w = Window.partitionBy("lang").orderBy(col("c").desc, col("tok"))
      cnt.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .join(cls, "lang").join(ctot, "lang").crossJoin(v).crossJoin(tot)
        .select(col("lang"), col("n_docs"), col("ct"),
          ln9(col("n_docs").cast(DoubleType) / col("total")).as("logprior9"),
          col("rn"), col("tok"), col("c"),
          ln9((col("c") + 1).cast(DoubleType) /
            (col("ct") + col("v")).cast(DoubleType)).as("loglik9"))
        .orderBy("lang", "rn")
    },

    // The trained model APPLIED: classify the held-out 20% (doc_id % 5
    // = 0) by argmax over classes of prior + Σ token log-likelihoods.
    // Per held-out token every class contributes a smoothed term
    // (unseen (class, token) pairs get the Laplace floor via the left
    // join's COALESCE 0) — each term is the same DECIMAL(20,9)-
    // quantized ln as training, the per-(doc, class) score is an EXACT
    // decimal sum (order-independent), and the argmax compares exact
    // decimals with ties broken by class name — so the prediction
    // itself (not just the score) replays exactly in DuckDB: a fully
    // value-oracled train→classify pipeline with zero external weights.
    // SimilarityTextSpec pins held-out accuracy strictly above the
    // fixed text_lang_id heuristic at sf0.1 (at sf0.001 the 400-doc
    // train split is sample-noise-dominated — documented there).
    // Scale: the term join fans test tokens × |classes| (bounded), the
    // count table is (class × vocab)-bounded (broadcastable until the
    // vocab outgrows memory, then a plain shuffle join on the token
    // key — stopwords are the skewed keys, AQE territory), and the
    // score aggregate is partial+final on (doc, class).
    Decl("text_nb_classify",
      s"""$nbSqlRanked
         |SELECT r.doc_id, te.lang, r.clang AS pred_lang,
         |  CAST(CAST(r.sc AS VARCHAR) AS DOUBLE) AS score9
         |FROM ranked r JOIN test te ON te.doc_id = r.doc_id
         |WHERE r.rn = 1 ORDER BY r.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val test = docs.filter(col("doc_id") % 5 === 0 && col("text").isNotNull)
      nbScore(test, nbModel(s, d))
        .select(col("doc_id"), col("lang"), col("pred_lang"),
          col("sc").cast(DoubleType).as("score9"))
        .orderBy("doc_id")
    }
  )
}
