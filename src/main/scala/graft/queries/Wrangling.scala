package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.wrangling.{Dedup, Similarity, TextOps}

/** Data-wrangling / LLM-pipeline operators (SURVEY.md §2.12 + north-star
  * superset: dedup, similarity search, text analysis) as verifiable
  * queries over `documents` / `embeddings`.
  *
  * Hash-sensitive ops (MinHash, SimHash, LSH) run their PORTABLE variants
  * here — md5-derived hashes/planes that DuckDB recomputes — so even the
  * approximate pipelines are oracle-checked end-to-end (identical blocking,
  * identical candidates, identical results). The xxhash64 fast paths are
  * the throughput variants of the same algorithms, spec-verified against
  * these and against exact baselines.
  */
object Wrangling {

  /** The whitespace class of Java's `\s` — [ \t\n\x0B\f\r] — spelled out
    * for DuckDB's RE2, whose own `\s` EXCLUDES vertical tab U+000B: a
    * document containing one would tokenize differently in the two
    * engines (Spark splits on it, RE2 keeps it inside the token) and
    * silently diverge every TOKS-derived oracle. */
  private[queries] val WsClass = "[ \\t\\n\\x0B\\f\\r]"

  /** Expands `TOKS(expr)` placeholders in a DuckDB mirror to the exact
    * SQL analogue of [[TextOps.tokens]]: split on whitespace runs, drop
    * empty tokens. One definition, spliced everywhere — the two engines'
    * tokenizations can't drift apart per query. */
  private[queries] def sqlWithToks(sql: String): String =
    "TOKS\\(((?:[^()]|\\([^()]*\\))+)\\)".r.replaceAllIn(sql, m =>
      scala.util.matching.Regex.quoteReplacement(
        "list_filter(regexp_split_to_array(" + m.group(1) +
          s", '$WsClass+'), t -> t <> '')"))

  /** Shared DuckDB CTE chain (no leading WITH, pre-TOKS-expansion) for
    * the portable MinHash-LSH pipeline over `documents WHERE doc_id <
    * 200` (16 min-md5 hashes, 8 bands of 2): shingles → sizes →
    * signatures → band buckets → candidate pairs → exact Jaccard, ending
    * in `j(id_a, id_b, jac)`. Spliced into wr_minhash_lsh,
    * stream_dedup_ingest, and wr_dedup_clusters so the three oracles'
    * pair sets can never drift apart. */
  /** Shared DuckDB CTE prefix (no leading WITH, pre-TOKS expansion) for
    * the span-shingle derivation over `source`: tokens → 8-token md5
    * window hashes, ending in `{p}sh(doc_id, pos, h)`. `p` prefixes every
    * CTE name so the chain composes into queries that already use `sh`
    * (wr_corpus_dedup splices it next to minhashPairsCtes). */
  private[queries] def spanShingleCtes(source: String = "documents",
      p: String = ""): String =
    s"""${p}toks AS (
      |  SELECT doc_id, TOKS(text) AS tk FROM $source),
      |${p}sh AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    md5(array_to_string(tk[i:i+7], ' ')) AS h
      |  FROM ${p}toks, unnest(range(1, len(tk) - 6)) u(i)
      |  WHERE len(tk) >= 8)""".stripMargin

  /** Shared DuckDB CTE chain (no leading WITH, pre-TOKS expansion) for
    * the span-dedup pipeline over `source`: [[spanShingleCtes]] →
    * df≤maxDf hot-shingle valve → cross-document hits → diagonal runs,
    * ending in `{p}runs(id_a, id_b, diag, pos_a, grp)`. Spliced into
    * wr_span_dedup, wr_span_excise, and wr_corpus_dedup so the three
    * oracles' span sets cannot drift apart (the minhashPairsCtes
    * policy). */
  private[queries] def spanRunCtes(source: String = "documents",
      maxDf: Long = 50, p: String = ""): String =
    spanShingleCtes(source, p) + s""",
      |${p}okh AS (SELECT h FROM ${p}sh GROUP BY h
      |        HAVING count(DISTINCT doc_id) <= $maxDf),
      |${p}shf AS (SELECT s.doc_id, s.pos, s.h
      |        FROM ${p}sh s JOIN ${p}okh USING (h)),
      |${p}hits AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    a.pos AS pos_a, b.pos AS pos_b
      |  FROM ${p}shf a JOIN ${p}shf b ON a.h = b.h AND a.doc_id < b.doc_id),
      |${p}runs AS (
      |  SELECT id_a, id_b, pos_a - pos_b AS diag, pos_a,
      |    pos_a - row_number() OVER (
      |      PARTITION BY id_a, id_b, pos_a - pos_b
      |      ORDER BY pos_a) AS grp
      |  FROM ${p}hits)""".stripMargin

  private[queries] def minhashPairsCtes(
      source: String = "documents WHERE doc_id < 200",
      shingleN: Int = 1): String = {
    val sigCols = (0 until 16)
      .map(i => s"min(md5('s$i:' || s)) AS m$i").mkString(", ")
    val bandVals = (0 until 8)
      .map(b => s"WHEN $b THEN m${2 * b} || '|' || m${2 * b + 1}")
      .mkString(" ")
    // distinct word n-gram shingles, mirroring TextOps.wordShingles: for
    // n > 1 a doc shorter than n tokens contributes NO shingle rows (and
    // therefore no signature), exactly like the empty-array Spark guard
    val shingleSel =
      if (shingleN == 1)
        s"""SELECT doc_id, unnest(list_distinct(TOKS(text))) AS s
           |  FROM $source""".stripMargin
      else
        s"""SELECT doc_id, unnest(list_distinct(list_transform(
           |    range(1, len(tk) - ${shingleN - 2}),
           |    i -> array_to_string(tk[i:i+${shingleN - 1}], ' ')))) AS s
           |  FROM (SELECT doc_id, TOKS(text) AS tk FROM $source)
           |  WHERE len(tk) >= $shingleN""".stripMargin
    s"""sh AS (
       |  $shingleSel),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, b, CASE b $bandVals END AS bv
       |  FROM sig, generate_series(0, 7) AS g(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS i
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.id_a
       |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
       |  GROUP BY c.id_a, c.id_b),
       |j AS (
       |  SELECT id_a, id_b,
       |    CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jac
       |  FROM inter
       |  JOIN sizes na ON na.doc_id = id_a
       |  JOIN sizes nb ON nb.doc_id = id_b)""".stripMargin
  }

  /** Shared CTE text for the DuckDB mirrors of the LSH-signature pipeline:
    * the ±1 plane matrix (driver-derived md5 parity — Similarity.lshPlanes)
    * inlined as VALUES, per-(vector,bit) projections, 4-bit chunk values.
    * Both oracles below compose on top of `chunks(vec_id, ci, cv)`. */
  private[queries] def annSigCtes: String = {
    val planes = Similarity.lshPlanes(64, 16)
    // one DOUBLE[] literal per plane; the projection is an ORDER-DETERMINISTIC
    // left fold (list_reduce) matching Spark's aggregate() accumulation
    // exactly — an unordered SUM over a join could flip a signature bit on
    // a projection numerically near zero (float addition isn't associative)
    val rows = (0 until 16).map(i =>
      s"($i, CAST([${planes(i).map(v => s"$v.0").mkString(",")}] AS DOUBLE[]))")
      .mkString(",")
    s"""planes(i, arr) AS (VALUES $rows),
       |proj AS (
       |  SELECT e.vec_id, p.i,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, 65),
       |        j -> CAST(e.embedding[j] AS DOUBLE) * p.arr[j])),
       |      (acc, x) -> acc + x) AS pr
       |  FROM embeddings e, planes p),
       |chunks AS (
       |  SELECT vec_id, i // 4 AS ci,
       |    sum(CASE WHEN pr > 0 THEN 1 << (i % 4) ELSE 0 END) AS cv
       |  FROM proj GROUP BY vec_id, i // 4)""".stripMargin
  }

  /** Memoized IVF coarse quantizer + posting lists per (session, sfDir) —
    * index CONSTRUCTION is a build step amortized across queries (same
    * policy as the durable FieldIndex); the registered query is the probe. */
  private val ivfCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String),
      (Seq[Array[Double]], org.apache.spark.sql.DataFrame)]

  /** Memoized trained quality classifier per (session, sfDir) — see
    * wr_classifier_score. */
  private val classifierCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String),
      graft.wrangling.TextClassifier.TextModel]
  /** Memoized ANN-ingest bootstrap per (session, sfDir) — same
    * amortization policy as [[ivfFor]]: the quantizer train + seed save
    * is the offline build step, the registered query measures the INGEST
    * path (ticks + probe). Re-invocations keep the index and replay the
    * ticks over it (fresh checkpoint → same batchIds → idempotent
    * overwrites), so the crash-replay path is exercised on every rerun. */
  private val annIngestCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String),
      (String, Seq[Array[Double]])]

  private def ivfFor(s: org.apache.spark.sql.SparkSession, d: String) =
    ivfCache.getOrElseUpdate((s, d), {
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.ivfTrain(emb, "vec_id", "embedding", 8, iters = 2)
      val index = Similarity.ivfIndex(emb, "vec_id", "embedding", cents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      index.count()
      (cents, index)
    })

  val entries: Seq[QueryDef] = Seq(

    // Multimodal AUDIO pipeline through the driver's hash gate: WAV
    // payloads deterministically synthesized from documents.doc_id (sines
    // at doc-derived frequencies — the "deterministic fake" pattern, but
    // the WAV container + decode + window math are all REAL), decoded and
    // windowed distributed. Window count and sine RMS are analytically
    // known, so DuckDB can oracle the whole pipeline: 1000 samples /
    // 256-window stride-1 → 3 windows; RMS of a 0.5-amplitude sine →
    // 0.5/√2 ≈ 0.35.
    QueryDef(
      "wr_audio_pipeline",
      (s, d) => {
        import s.implicits._
        import graft.wrangling.Multimodal
        import Multimodal._
        val media = Tables.documents(s, d)
          .filter(col("doc_id") < 200).select(col("doc_id")).as[Long]
          .map { id =>
            val sr = 8000f
            val n = 1000
            val freq = 200.0 + (id % 20) * 100.0 // well under Nyquist
            val data = new Array[Byte](n * 2)
            var i = 0
            while (i < n) {
              val v = (math.sin(2 * math.Pi * freq * i / sr) * 0.5 * 32767).toShort
              data(2 * i) = (v & 0xff).toByte
              data(2 * i + 1) = ((v >> 8) & 0xff).toByte
              i += 1
            }
            val fmt = new javax.sound.sampled.AudioFormat(
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
              sr, 16, 1, 2, sr, false)
            val bos = new java.io.ByteArrayOutputStream()
            javax.sound.sampled.AudioSystem.write(
              new javax.sound.sampled.AudioInputStream(
                new java.io.ByteArrayInputStream(data), fmt, n.toLong),
              javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
            MediaRow(id, bos.toByteArray, MediaMeta("audio", 0, 0, 8000, 125))
          }
          // persisted: BOTH consumers below (window features + rms) read
          // this frame, and synthesize+container-encode is the dominant
          // per-row cost — unpersisted, every WAV was built twice per run
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        graft.core.TransientCaches.trackTable(media.toDF())
        val feats = Multimodal.extractAudioFeatures(media,
          windowSize = 256, stride = 1)
        val rms = media.map { r =>
          val pcm = MediaCodec.decodeAudio(r.payload).get._3
          (r.media_id,
            math.round(MediaCodec.audioDescriptors(pcm)(0) * 100) / 100.0)
        }.toDF("media_id", "rms2")
        feats.toDF().select(col("media_id"), col("n_frames"))
          .join(rms, "media_id")
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id, CAST(3 AS INT) AS n_frames,
             |  CAST(0.35 AS DOUBLE) AS rms2
             |FROM documents WHERE doc_id < 200 ORDER BY media_id""".stripMargin),
      Seq("multimodal", "audio_decode", "frame_sample", "feature_extract")),

    // Repetition quality rules (Gopher/C4 shapes): duplicate-line fraction
    // + top-2-gram fraction per document. Pure array expressions, map-only;
    // DuckDB mirrors with list lambdas.
    QueryDef(
      "wr_repetition",
      (s, d) => {
        Tables.documents(s, d)
          .filter(col("doc_id") <= 100)
          .select(col("doc_id"),
            round(TextOps.dupLineFraction(col("text")), 6).as("dup_line_frac"),
            round(TextOps.topNgramFraction(col("text"), 2), 6).as("top2gram_frac"))
          .orderBy(col("doc_id"))
      },
      Some(sqlWithToks("""SELECT doc_id,
             |  round(CASE WHEN len(list_filter(string_split(text, chr(10)),
             |        l -> length(l) > 0)) = 0 THEN 0.0
             |    ELSE (len(list_filter(string_split(text, chr(10)), l -> length(l) > 0))
             |      - len(list_distinct(list_filter(string_split(text, chr(10)),
             |          l -> length(l) > 0))))
             |      / CAST(len(list_filter(string_split(text, chr(10)),
             |          l -> length(l) > 0)) AS DOUBLE) END, 6) AS dup_line_frac,
             |  round((
             |    WITH tk AS (SELECT TOKS(text) AS toks),
             |    g AS (SELECT list_transform(
             |        range(0, len(toks) - 1),
             |        i -> toks[i + 1] || ' ' || toks[i + 2]) AS grams FROM tk)
             |    SELECT CASE WHEN len(grams) <= 0 THEN 0.0
             |      ELSE list_max(list_transform(list_distinct(grams),
             |          u -> len(list_filter(grams, x -> x = u))))
             |        / CAST(len(grams) AS DOUBLE) END FROM g
             |  ), 6) AS top2gram_frac
             |FROM documents WHERE doc_id <= 100 ORDER BY doc_id""".stripMargin)),
      Seq("repetition_filter", "dup_line_fraction", "top_ngram_fraction",
        "quality_rules")),

    // PII scrubbing over synthesized PII-laden rows (names/phones from the
    // customer table carry the payload; emails/IPs derived from them).
    // Patterns are RE2-compatible so DuckDB's regexp_replace produces
    // byte-identical redactions — the oracle checks the scrub exactly.
    QueryDef(
      "wr_pii_redact",
      (s, d) => {
        val phone = concat(lit("55-"),
          lpad((col("c_custkey") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("c_custkey") % 777).cast("string"), 3, "0"), lit("-"),
          lpad((col("c_custkey") % 10000).cast("string"), 4, "0"))
        val t = concat(col("c_name"), lit(" <"),
          lower(regexp_replace(col("c_name"), "[ #]", ".")),
          lit("@example.com> tel "), phone,
          lit(" ip 10.0.0."), (col("c_custkey") % 200).cast("string"))
        Tables.customer(s, d)
          .filter(col("c_custkey") <= 150)
          .select(col("c_custkey"), TextOps.redactPii(t).as("scrubbed"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey,
             |  regexp_replace(regexp_replace(regexp_replace(
             |    c_name || ' <' || lower(regexp_replace(c_name, '[ #]', '.', 'g'))
             |      || '@example.com> tel 55-'
             |      || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-'
             |      || lpad(CAST(c_custkey % 777 AS VARCHAR), 3, '0') || '-'
             |      || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
             |      || ' ip 10.0.0.' || CAST(c_custkey % 200 AS VARCHAR),
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '(\d{1,3}\.){3}\d{1,3}', '<IP>', 'g'),
             |    '(\+?\d{1,3}[-. ])?\d{3}[-. ]\d{3}[-. ]\d{4}', '<PHONE>', 'g')
             |    AS scrubbed
             |FROM customer WHERE c_custkey <= 150 ORDER BY c_custkey""".stripMargin),
      Seq("pii_redaction", "scrubbing", "regexp")),

    // Contamination detection (the decontamination pass every training
    // pipeline runs): fraction of each document's distinct word 3-grams
    // that appear in a benchmark set — here the shingles of docs 1-5 stand
    // in for the benchmark. Shingle explode + broadcastable semi-join;
    // flagged docs would be dropped before training.
    QueryDef(
      "wr_contamination",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val shingles = docs.filter(col("doc_id") <= 100)
          .select(col("doc_id"),
            explode(TextOps.wordShingles(col("text"), 3)).as("sh"))
        val bench = docs.filter(col("doc_id") <= 5)
          .select(explode(TextOps.wordShingles(col("text"), 3)).as("sh"))
          .distinct()
        val hits = shingles.join(broadcast(bench), Seq("sh"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        shingles.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_shingles"),
            round(coalesce(col("n_hits"), lit(0L)).cast("double") /
              col("n_shingles"), 6).as("overlap"))
          .orderBy(col("doc_id"))
      },
      Some(sqlWithToks("""WITH tk AS (
             |  SELECT doc_id, TOKS(text) AS toks
             |  FROM documents WHERE doc_id <= 100),
             |sh AS (
             |  SELECT doc_id, list_distinct(list_transform(
             |    range(0, len(toks) - 2),
             |    i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))
             |    AS grams
             |  FROM tk),
             |flat AS (SELECT doc_id, unnest(grams) AS sh FROM sh),
             |bench AS (SELECT DISTINCT sh FROM flat WHERE doc_id <= 5)
             |SELECT f.doc_id, count(*) AS n_shingles,
             |  round(CAST(count(b.sh) AS DOUBLE) / count(*), 6) AS overlap
             |FROM flat f LEFT JOIN bench b ON f.sh = b.sh
             |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin)),
      Seq("contamination", "decontamination", "ngram_overlap", "semi_join")),

    // Token counting + aggregate text stats per language bucket.
    QueryDef(
      "wr_token_stats",
      (s, d) => {
        val docs = Tables.documents(s, d)
        docs.groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(TextOps.tokenCount(col("text"))).as("total_tokens"),
            round(avg(TextOps.tokenCount(col("text"))), 4).as("avg_tokens"),
            round(avg(TextOps.avgWordLen(col("text"))), 4).as("avg_word_len"))
          .orderBy(col("lang"))
      },
      Some(sqlWithToks("""WITH tk AS (SELECT lang, TOKS(text) AS toks FROM documents)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
             |  round(avg(len(toks)), 4) AS avg_tokens,
             |  round(avg(coalesce(CAST(list_sum(list_transform(toks, t -> length(t)))
             |        AS DOUBLE) / nullif(len(toks), 0), 0.0)), 4) AS avg_word_len
             |FROM tk GROUP BY lang ORDER BY lang""".stripMargin)),
      Seq("token_count", "text_analysis", "group_by", "mean")),

    // Corpus TF-IDF, top-3 terms per document: tf·ln(N/df) with N as a
    // one-row broadcast and top-k as a per-doc window. tfidf is rounded
    // BEFORE tie-break ordering so float ulps can't flip the order between
    // mathematically-equal scores computed along different paths
    // (e.g. 2·ln(10) vs 1·ln(100)).
    QueryDef(
      "wr_tfidf_topk",
      (s, d) => {
        import graft.wrangling.TextOps
        TextOps.tfIdfTopK(Tables.documents(s, d), "doc_id", "text", 3)
          .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
      },
      Some(sqlWithToks("""WITH tk AS (
             |  SELECT doc_id, unnest(TOKS(text)) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
             |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents),
             |scored AS (
             |  SELECT doc_id, tf.term AS term, tf, df,
             |    round(tf * ln(CAST(n.n AS DOUBLE) / df), 4) AS tfidf
             |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
             |SELECT doc_id, term, tf, df, tfidf FROM (
             |  SELECT *, row_number() OVER (PARTITION BY doc_id
             |    ORDER BY tfidf DESC, term) AS rn FROM scored)
             |WHERE rn <= 3 ORDER BY doc_id, tfidf DESC, term""".stripMargin)),
      Seq("tfidf", "text_analysis", "group_by", "top_k", "window")),

    // Per-document quality scoring (LLM corpus filter shape).
    QueryDef(
      "wr_quality_score",
      (s, d) => {
        val stop = Seq("a", "the")
        Tables.documents(s, d)
          .filter(col("doc_id") <= 100)
          .select(col("doc_id"),
            TextOps.tokenCount(col("text")).as("n_tokens"),
            round(TextOps.stopwordRatio(col("text"), stop), 6).as("stop_ratio"),
            TextOps.qualityScore(col("text"), stop).as("quality"))
          .orderBy(col("doc_id"))
      },
      Some(sqlWithToks("""WITH tk AS (
             |  SELECT doc_id, text, TOKS(text) AS toks
             |  FROM documents WHERE doc_id <= 100)
             |SELECT doc_id,
             |  len(toks) AS n_tokens,
             |  round(coalesce(CAST(len(list_filter(toks,
             |      w -> w IN ('a', 'the'))) AS DOUBLE)
             |    / nullif(len(toks), 0), 0.0), 6) AS stop_ratio,
             |  round((
             |    least(len(toks) / 100.0, 1.0)
             |    + (1.0 - least(coalesce(CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
             |        / nullif(length(text), 0), 0.0) * 5.0, 1.0))
             |    + least(coalesce(CAST(len(list_filter(toks,
             |        w -> w IN ('a', 'the'))) AS DOUBLE)
             |      / nullif(len(toks), 0), 0.0) * 5.0, 1.0)
             |  ) / 3.0, 6) AS quality
             |FROM tk ORDER BY doc_id""".stripMargin)),
      Seq("quality_score", "stopword_ratio", "filter", "text_analysis")),

    // Learned corpus filter end-to-end (the CCNet/fasttext shape behind
    // production quality classifiers): REAL mllib training + map-only
    // scoring, oracle-checked by construction. Each document carries a
    // planted class marker token (by doc_id parity), so the two classes
    // are linearly separable with a wide margin: a correctly wired
    // featurize→train→score pipeline recovers the planted labels exactly
    // (and confidently), while a broken hash featurizer, label index, or
    // coefficient broadcast diverges. Training is deterministic (LBFGS
    // from zero init, no sampling); the oracle replays the planted rule
    // relationally. The survivor filter exercises the threshold semantics
    // a corpus filter runs at 100 TB — scoring is map-only (broadcast
    // coefficients, no shuffle), so the plan scales like a scan.
    QueryDef(
      "wr_classifier_score",
      (s, d) => {
        import graft.wrangling.TextClassifier
        val marked = Tables.documents(s, d).withColumn("mtext",
          concat(col("text"),
            when(col("doc_id") % 2 === 0, lit(" qzkeepsig"))
              .otherwise(lit(" qzdropsig"))))
        // model TRAINING is a build step amortized across queries (the
        // same policy as the IVF coarse quantizer and the durable
        // FieldIndex); the registered query is the scoring leg
        val model = classifierCache.getOrElseUpdate((s, d), {
          // the labeled fixture is ~200 rows: 1 partition makes each LBFGS
          // iteration one task instead of a 32-way treeAggregate of crumbs
          // (at real scale the training set is big and stays partitioned;
          // scoring — the 100 TB leg — is unaffected either way)
          val train = marked.filter(col("doc_id") < 200).withColumn("label",
            when(col("doc_id") % 2 === 0, lit("keep")).otherwise(lit("drop")))
            .repartition(1)
          TextClassifier.train(train, "mtext", "label",
            numFeatures = 1 << 12, maxIter = 12)
        })
        // pin the narrow scored projection before filtering on it:
        // a filter on a derived column otherwise pushes through the
        // projection and re-evaluates the featurize+score chain per
        // reference (2-3× the scoring cost — the dominant term)
        val scored = graft.core.TransientCaches.trackTable(
          model.score(marked, "mtext")
            .select(col("doc_id"), col("predicted"), col("confidence"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        scored
          .filter(col("predicted") === "keep" && col("confidence") >= 0.6)
          .select(col("doc_id"), col("predicted"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, 'keep' AS predicted FROM documents
             |WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin),
      Seq("quality_classifier", "train", "score", "filter")),

    // Language-ID heuristic applied at scale; oracle mirrors the formula.
    QueryDef(
      "wr_langid",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("lang"), TextOps.langId(col("text")).as("predicted"))
          .groupBy(col("lang"), col("predicted"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("predicted"))
      },
      // Same scoring: en/de/es/fr = marker-word hits, zh = CJK char count;
      // argmax, first-wins tie order en,de,es,fr,zh.
      Some(sqlWithToks("""WITH scored AS (
             |  SELECT lang,
             |    len(list_filter(TOKS(lower(text)),
             |      w -> w IN ('the','and','of','to','is','a'))) AS s_en,
             |    len(list_filter(TOKS(lower(text)),
             |      w -> w IN ('der','die','das','und','ist','nicht'))) AS s_de,
             |    len(list_filter(TOKS(lower(text)),
             |      w -> w IN ('el','la','los','que','es','y'))) AS s_es,
             |    len(list_filter(TOKS(lower(text)),
             |      w -> w IN ('le','la','les','est','et','une'))) AS s_fr,
             |    length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS s_zh
             |  FROM documents),
             |pred AS (
             |  SELECT lang, CASE
             |    WHEN s_de > s_en THEN
             |      CASE WHEN s_es > s_de THEN
             |        CASE WHEN s_fr > s_es THEN CASE WHEN s_zh > s_fr THEN 'zh' ELSE 'fr' END
             |             WHEN s_zh > s_es THEN 'zh' ELSE 'es' END
             |      WHEN s_fr > s_de THEN CASE WHEN s_zh > s_fr THEN 'zh' ELSE 'fr' END
             |      WHEN s_zh > s_de THEN 'zh' ELSE 'de' END
             |    WHEN s_es > s_en THEN
             |      CASE WHEN s_fr > s_es THEN CASE WHEN s_zh > s_fr THEN 'zh' ELSE 'fr' END
             |           WHEN s_zh > s_es THEN 'zh' ELSE 'es' END
             |    WHEN s_fr > s_en THEN CASE WHEN s_zh > s_fr THEN 'zh' ELSE 'fr' END
             |    WHEN s_zh > s_en THEN 'zh' ELSE 'en' END AS predicted
             |  FROM scored)
             |SELECT lang, predicted, count(*) AS n FROM pred
             |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin)),
      Seq("lang_id", "match", "text_analysis")),

    // Content fingerprinting: md5 of normalized text (exact-dedup key).
    QueryDef(
      "wr_fingerprint",
      (s, d) => {
        Tables.documents(s, d)
          .filter(col("doc_id") <= 50)
          .select(col("doc_id"),
            TextOps.fingerprint(col("text")).as("fp"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS fp
             |FROM documents WHERE doc_id <= 50 ORDER BY doc_id""".stripMargin),
      // tagged md5, not blake3: the operator hashes with md5 on both
      // engines — claiming blake3 coverage here was a silent hole
      Seq("fingerprint", "value_hash", "md5")),

    // Exact dedup on a simulated re-crawl (corpus unioned with itself):
    // survivors per language before/after — the hash-groupBy dedup op.
    QueryDef(
      "wr_exact_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
        val recrawl = docs.unionAll(
          docs.withColumn("doc_id", col("doc_id") + 1000000))
        val deduped = Dedup.exactDedup(recrawl, "doc_id", "text")
        deduped.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_surviving"))
          .join(recrawl.groupBy(col("lang")).agg(count(lit(1)).as("n_raw")), "lang")
          .select(col("lang"), col("n_raw"), col("n_surviving"))
          .orderBy(col("lang"))
      },
      Some("""WITH recrawl AS (
             |  SELECT doc_id, lang, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, lang, text FROM documents),
             |keyed AS (SELECT *, md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS fp
             |          FROM recrawl),
             |surv AS (SELECT fp, min(doc_id) AS doc_id FROM keyed GROUP BY fp),
             |dedup AS (SELECT k.lang FROM keyed k JOIN surv s ON k.doc_id = s.doc_id)
             |SELECT r.lang, count(*) AS n_raw,
             |  (SELECT count(*) FROM dedup d WHERE d.lang = r.lang) AS n_surviving
             |FROM recrawl r GROUP BY r.lang ORDER BY r.lang""".stripMargin),
      Seq("deduplicate", "exact_dedup", "distinct_by", "group_by")),

    // Exact n-gram Jaccard near-dup pairs via shingle inverted index.
    QueryDef(
      "wr_ngram_jaccard",
      (s, d) => {
        Dedup.ngramJaccardPairs(
          Tables.documents(s, d).filter(col("doc_id") < 60),
          "doc_id", "text", shingleN = 1, threshold = 0.9)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(sqlWithToks("""WITH sh AS (
             |  SELECT DISTINCT doc_id, unnest(TOKS(text)) AS s
             |  FROM documents WHERE doc_id < 60),
             |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
             |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  round(CAST(i AS DOUBLE) / (x.n + y.n - i), 6) AS jaccard
             |FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
             |WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.9
             |ORDER BY id_a, id_b""".stripMargin)),
      Seq("ngram_jaccard", "deduplicate", "near_dup")),

    // Cross-document SUBSTRING-level dedup (Lee et al. "Deduplicating
    // Training Data"): maximal duplicated token spans >= 8 tokens across
    // doc pairs — shingle-hash equi-join blocking (never all-pairs) +
    // diagonal-run merge. The oracle replays the IDENTICAL pipeline: same
    // tokenization (TOKS), same md5 window hashes, same hot-shingle valve
    // (df <= 50), same islands merge — spans are hash-checked end-to-end.
    QueryDef(
      "wr_span_dedup",
      (s, d) => {
        graft.wrangling.SpanDedup.duplicateSpans(
          Tables.documents(s, d), "doc_id", "text",
          spanTokens = 8, maxDocFreq = 50)
          .orderBy(col("id_a"), col("id_b"), col("start_a"), col("start_b"))
      },
      Some(sqlWithToks(s"""WITH ${spanRunCtes()}
             |SELECT id_a, id_b, min(pos_a) AS start_a,
             |  min(pos_a) - diag AS start_b, count(*) + 7 AS span_len
             |FROM runs GROUP BY id_a, id_b, diag, grp
             |ORDER BY id_a, id_b, start_a, start_b""".stripMargin)),
      Seq("span_dedup", "deduplicate", "substring", "lee_et_al")),

    // The excision step of the same pipeline (Lee et al.): rewrite each
    // doc with the tokens under its incoming duplicated spans REMOVED
    // (lower-id copy kept). Oracle replays the identical span set
    // (shared spanRunCtes), the same interval-union sweep, and the same
    // index-filtered token rebuild.
    QueryDef(
      "wr_span_excise",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val spans = graft.wrangling.SpanDedup.duplicateSpans(
          docs, "doc_id", "text", spanTokens = 8, maxDocFreq = 50)
        graft.wrangling.SpanDedup.exciseSpans(docs, "doc_id", "text", spans)
          .select(col("doc_id"), col("text"), col("removed_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(sqlWithToks(s"""WITH ${spanRunCtes()},
             |spans AS (
             |  SELECT id_b, min(pos_a) - diag AS start_b,
             |    count(*) + 7 AS span_len
             |  FROM runs GROUP BY id_a, id_b, diag, grp),
             |iv AS (SELECT id_b AS doc_id, start_b AS st,
             |       start_b + span_len AS en FROM spans),
             |marked AS (
             |  SELECT doc_id, st, en,
             |    CASE WHEN max(en) OVER (PARTITION BY doc_id ORDER BY st, en
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             |      OR st > max(en) OVER (PARTITION BY doc_id ORDER BY st, en
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      THEN 1 ELSE 0 END AS nw
             |  FROM iv),
             |isl AS (
             |  SELECT doc_id, st, en,
             |    sum(nw) OVER (PARTITION BY doc_id ORDER BY st, en) AS island
             |  FROM marked),
             |cuts AS (SELECT doc_id, island, min(st) AS cs, max(en) AS ce
             |         FROM isl GROUP BY 1, 2),
             |cutlist AS (
             |  SELECT doc_id, list(struct_pack(cs := cs, ce := ce)) AS cl,
             |    sum(ce - cs) AS removed
             |  FROM cuts GROUP BY doc_id)
             |SELECT d.doc_id,
             |  CASE WHEN c.cl IS NULL THEN d.text
             |       -- COALESCE: a FULLY excised doc is '' on both engines
             |       -- (DuckDB's array_to_string([]) is NULL, Spark's
             |       -- concat_ws never is)
             |       ELSE COALESCE(array_to_string(list_filter(t.tk,
             |         (x, i) -> len(list_filter(c.cl,
             |           s -> i - 1 >= s.cs AND i - 1 < s.ce)) = 0), ' '), '')
             |  END AS text,
             |  CAST(COALESCE(c.removed, 0) AS BIGINT) AS removed_tokens
             |FROM documents d
             |JOIN toks t ON t.doc_id = d.doc_id
             |LEFT JOIN cutlist c ON c.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),
      Seq("span_dedup", "excise", "rewrite", "lee_et_al")),

    // The hot-shingle valve's audit surface: which window hashes exceed a
    // doc-frequency cap, with their df and window mass — what
    // SpanDedup.duplicateSpans' valve drops (loudly) at that cap. Oracle
    // replays the identical tokenize → 8-token md5 window derivation
    // (shared spanShingleCtes) and the same df threshold.
    QueryDef(
      "wr_span_hot_windows",
      (s, d) => {
        graft.wrangling.SpanDedup.hotWindows(
          Tables.documents(s, d), "doc_id", "text",
          spanTokens = 8, maxDocFreq = 2)
          .orderBy(col("span_hash"))
      },
      Some(sqlWithToks(s"""WITH ${spanShingleCtes()}
             |SELECT h AS span_hash, count(DISTINCT doc_id) AS doc_freq,
             |  count(*) AS window_count
             |FROM sh GROUP BY h HAVING count(DISTINCT doc_id) > 2
             |ORDER BY span_hash""".stripMargin)),
      Seq("span_dedup", "hot_shingle", "valve", "observability")),

    // The PACKAGED corpus-dedup pipeline END-TO-END (Dedup.corpusDedup,
    // portable variant): exact fingerprint dedup → portable MinHash-LSH
    // pairs → connected-components clustering with min-id survivors →
    // span-coverage drop (valve armed at its 1000 default — no window at
    // this scale is near it, so the oracle replays the cap as a no-op
    // HAVING bound rather than omitting it). The composition — stage
    // ordering, survivor-set handoff between stages, the span stage
    // reading CC survivors not raw docs — is exactly where a silent
    // regression would hide while every stage's own query stays green;
    // this replays all four stages in DuckDB and hash-checks the final
    // survivor rows. Fixture bounded to doc_id < 300 (the
    // wr_dedup_clusters policy: the COMPOSITION is the thing under test —
    // each stage's scale shape is probed by its own query; the portable
    // 16-salt md5 minhash exists for oracle replay, not throughput).
    QueryDef(
      "wr_corpus_dedup",
      (s, d) => {
        Dedup.corpusDedup(
          Tables.documents(s, d).filter(col("doc_id") < 300),
          "doc_id", "text",
          threshold = 0.8, numHashes = 16, bands = 8, shingleN = 3,
          spanTokens = Some(8), portable = true)
          .orderBy(col("doc_id"))
      },
      Some(sqlWithToks(s"""WITH RECURSIVE
             |docs300 AS (SELECT * FROM documents WHERE doc_id < 300),
             |keyed AS (
             |  SELECT doc_id, md5(trim(regexp_replace(lower(text),
             |    '$WsClass+', ' ', 'g'))) AS fp
             |  FROM docs300),
             |exact_surv AS (SELECT min(doc_id) AS doc_id FROM keyed GROUP BY fp),
             |exact_docs AS (
             |  SELECT d.doc_id, d.text FROM docs300 d JOIN exact_surv USING (doc_id)),
             |${minhashPairsCtes("exact_docs", shingleN = 3)},
             |pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.8),
             |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
             |          UNION SELECT id_b, id_a FROM pairs),
             |reach AS (
             |  SELECT u AS id, u AS lbl FROM edges
             |  UNION
             |  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.id),
             |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
             |kept AS (
             |  SELECT e.doc_id, e.text FROM exact_docs e
             |  WHERE e.doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster_id)),
             |${spanRunCtes("kept", 1000, "sp_")},
             |spans AS (
             |  SELECT id_b, min(pos_a) - diag AS start_b,
             |    count(*) + 7 AS span_len
             |  FROM sp_runs GROUP BY id_a, id_b, diag, grp),
             |iv AS (SELECT id_b AS doc_id, start_b AS st,
             |       start_b + span_len AS en FROM spans),
             |marked AS (
             |  SELECT doc_id, st, en,
             |    CASE WHEN max(en) OVER (PARTITION BY doc_id ORDER BY st, en
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             |      OR st > max(en) OVER (PARTITION BY doc_id ORDER BY st, en
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      THEN 1 ELSE 0 END AS nw
             |  FROM iv),
             |isl AS (
             |  SELECT doc_id, st, en,
             |    sum(nw) OVER (PARTITION BY doc_id ORDER BY st, en) AS island
             |  FROM marked),
             |cuts AS (SELECT doc_id, island, min(st) AS cs, max(en) AS ce
             |         FROM isl GROUP BY 1, 2),
             |heavy AS (
             |  SELECT c.doc_id FROM cuts c JOIN sp_toks t USING (doc_id)
             |  GROUP BY c.doc_id, len(t.tk)
             |  HAVING CAST(sum(ce - cs) AS DOUBLE) / len(t.tk) >= 0.5)
             |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
             |FROM docs300 d JOIN kept USING (doc_id)
             |WHERE d.doc_id NOT IN (SELECT doc_id FROM heavy)
             |ORDER BY d.doc_id""".stripMargin)),
      Seq("corpus_dedup", "deduplicate", "pipeline", "composition",
        "lee_et_al", "minhash_lsh", "connected_components")),

    // Exact cosine top-k against a query vector (ANN brute-force baseline).
    QueryDef(
      "wr_cosine_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).collect()(0)
          .getSeq[Float](0).toArray
        Similarity.cosineTopK(emb, "vec_id", "embedding", q, 10,
          excludeId = Some(0L))
          .select(col("vec_id"), round(col("cos_sim"), 4).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
      },
      // the top-10 CUT is taken on the RAW similarity (inner subquery),
      // rounding only the projection — Spark's cosineTopK limits on the
      // unrounded value, so an oracle that ordered by the rounded alias
      // could pick a different 10th row whenever two candidates straddle
      // the boundary within 1e-4 (the sibling wr_ann_* oracles already
      // cut on raw cs for this reason)
      Some("""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
             |raw AS (
             |  SELECT e.vec_id,
             |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) /
             |      (sqrt(sum(CAST(e.embedding[i] AS DOUBLE) ^ 2)) *
             |       sqrt(sum(CAST(q.qe[i] AS DOUBLE) ^ 2))) AS cs
             |  FROM embeddings e, q, generate_series(1, 64) AS g(i)
             |  WHERE e.vec_id <> 0
             |  GROUP BY e.vec_id ORDER BY cs DESC, vec_id LIMIT 10)
             |SELECT vec_id, round(cs, 4) AS cos_sim FROM raw
             |ORDER BY cos_sim DESC, vec_id""".stripMargin),
      Seq("similarity_search", "cosine", "ann_topk", "sort", "take")),

    // Embedding stats per label: norms in double — proves vector math path.
    QueryDef(
      "wr_embedding_norms",
      (s, d) => {
        Tables.embeddings(s, d)
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            round(avg(Similarity.norm(col("embedding"))), 4).as("avg_norm"))
          .orderBy(col("label"))
      },
      Some("""SELECT label, count(*) AS n,
             |  round(avg(nrm), 4) AS avg_norm FROM (
             |  SELECT label, sqrt(sum(CAST(embedding[i] AS DOUBLE) ^ 2)) AS nrm
             |  FROM embeddings, generate_series(1, 64) AS g(i)
             |  GROUP BY vec_id, label)
             |GROUP BY label ORDER BY label""".stripMargin),
      Seq("similarity_search", "norm", "group_by", "mean")),

    // MinHash-LSH near-dedup, portable md5 signatures: DuckDB re-runs the
    // IDENTICAL pipeline (min-md5 sigs → band buckets → exact Jaccard) —
    // the approximate blocking itself is oracle-checked, not just the
    // exact verification stage. 16 hashes / 8 bands of 2 rows.
    QueryDef(
      "wr_minhash_lsh",
      (s, d) => {
        Dedup.minhashDedupPairsPortable(
          Tables.documents(s, d).filter(col("doc_id") < 200),
          "doc_id", "text", threshold = 0.5, numHashes = 16, bands = 8,
          shingleN = 1)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(sqlWithToks(s"""WITH ${minhashPairsCtes()}
           |SELECT id_a, id_b, round(jac, 6) AS jaccard
           |FROM j WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin)),
      Seq("minhash", "lsh", "deduplicate", "near_dup")),

    // Near-dup CLUSTERING: the LSH pair set (same portable pipeline as
    // wr_minhash_lsh) becomes an undirected graph; GraphX
    // connectedComponents labels every clustered doc with the min doc_id
    // reachable — the survivor-election step of corpus dedup (keep one
    // doc per cluster, not one per pair; pairs alone under-delete
    // transitive groups A~B~C where A~C never met a band). DuckDB mirrors
    // with a recursive label-propagation CTE over the identical pair set.
    // Scale: pairs are band-blocked equi-joins; CC is GraphX Pregel —
    // iterations bounded by cluster diameter (near-dup clusters are
    // shallow), never all-pairs.
    QueryDef(
      "wr_dedup_clusters",
      (s, d) => {
        import graft.analytics.GraphAlgos
        val pairs = Dedup.minhashDedupPairsPortable(
          Tables.documents(s, d).filter(col("doc_id") < 200),
          "doc_id", "text", threshold = 0.5, numHashes = 16, bands = 8,
          shingleN = 1)
        val cc = GraphAlgos.dedupClusters(pairs)
        val sizes = cc.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("cluster_size"))
        cc.join(sizes, "cluster_id")
          .select(col("id").as("doc_id"), col("cluster_id"),
            col("cluster_size"))
          .orderBy(col("doc_id"))
      },
      Some(sqlWithToks(s"""WITH RECURSIVE ${minhashPairsCtes()},
           |pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.5),
           |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
           |          UNION SELECT id_b, id_a FROM pairs),
           |reach AS (
           |  SELECT u AS id, u AS lbl FROM edges
           |  UNION
           |  SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.id),
           |cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
           |sz AS (SELECT cluster_id, count(*) AS cluster_size
           |       FROM cc GROUP BY cluster_id)
           |SELECT cc.id AS doc_id, cc.cluster_id, sz.cluster_size
           |FROM cc JOIN sz USING (cluster_id)
           |ORDER BY doc_id""".stripMargin)),
      Seq("dedup_clusters", "connected_components", "deduplicate",
        "survivor_election", "graphx")),

    // SimHash near-dup pairs, portable md5 bit votes: DuckDB recomputes
    // the IDENTICAL fingerprints (md5 hex-digit bits, tf-weighted votes),
    // chunk blocking, and hamming — the full approximate pipeline is
    // oracle-checked. maxDist 7 = the 8-chunk blocking's recall guarantee
    // (proven in WranglingSpec vs an exact-Hamming cross-join baseline).
    QueryDef(
      "wr_simhash",
      (s, d) => {
        val fps = Dedup.simhashPortable(
          Tables.documents(s, d).filter(col("doc_id") < 300), "doc_id", "text")
        Dedup.simhashPairsPortable(fps, "doc_id", maxDist = 7)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        // vote for bit i: bit (i%4) of hex digit (i/4) of md5(token)
        val voteCols = (0 until 64).map { i =>
          s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, ${i / 4 + 1}, 1)) - 1) >> ${i % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS b_$i"
        }.mkString(", ")
        val fpConcat = (0 until 64)
          .map(i => s"CASE WHEN b_$i > 0 THEN '1' ELSE '0' END").mkString(" || ")
        val hammingSum = (1 to 64)
          .map(i => s"CASE WHEN substr(ba, $i, 1) <> substr(bb, $i, 1) THEN 1 ELSE 0 END")
          .mkString(" + ")
        sqlWithToks(s"""WITH tok AS (
           |  SELECT doc_id, unnest(TOKS(text)) AS w
           |  FROM documents WHERE doc_id < 300),
           |d AS (SELECT doc_id, md5(w) AS h FROM tok),
           |votes AS (SELECT doc_id, $voteCols FROM d GROUP BY doc_id),
           |fp AS (SELECT doc_id, $fpConcat AS bits FROM votes),
           |chunks AS (
           |  SELECT doc_id, bits, ci, substr(bits, ci * 8 + 1, 8) AS cv
           |  FROM fp, generate_series(0, 7) AS g(ci)),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, a.bits AS ba,
           |                  b.doc_id AS id_b, b.bits AS bb
           |  FROM chunks a JOIN chunks b
           |    ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
           |SELECT id_a, id_b, hamming FROM (
           |  SELECT id_a, id_b, $hammingSum AS hamming FROM cand)
           |WHERE hamming <= 7 ORDER BY id_a, id_b""".stripMargin)
      },
      Seq("simhash", "deduplicate", "near_dup")),

    // LSH-bucketed ANN: the planes are md5-derived (Similarity.lshPlanes),
    // so DuckDB recomputes the IDENTICAL signatures, probes the same
    // buckets, and ranks the same candidates — the approximate search is
    // oracle-checked as-is, pruning included.
    QueryDef(
      "wr_ann_lsh",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") === 1)
          .select(col("embedding")).collect()(0)
          .getSeq[Float](0).toArray
        Similarity.lshTopK(emb, "vec_id", "embedding", q, 10, dim = 64)
          .select(col("vec_id"), round(col("cos_sim"), 4).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
      },
      Some(
        s"""WITH $annSigCtes,
           |qc AS (SELECT ci, cv FROM chunks WHERE vec_id = 1),
           |cand AS (
           |  SELECT DISTINCT c.vec_id
           |  FROM chunks c JOIN qc ON c.ci = qc.ci AND c.cv = qc.cv),
           |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
           |sims AS (
           |  SELECT e.vec_id,
           |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) /
           |      (sqrt(sum(CAST(e.embedding[i] AS DOUBLE) ^ 2)) *
           |       sqrt(sum(CAST(q.qe[i] AS DOUBLE) ^ 2))) AS cs
           |  FROM embeddings e JOIN cand USING (vec_id), q,
           |    generate_series(1, 64) AS g(i)
           |  GROUP BY e.vec_id)
           |SELECT vec_id, round(cs, 4) AS cos_sim
           |FROM (SELECT * FROM sims ORDER BY cs DESC, vec_id LIMIT 10)
           |ORDER BY cos_sim DESC, vec_id""".stripMargin),
      Seq("similarity_search", "lsh", "ann_topk")),

    // IVF-Flat ANN (the coarse-quantizer scale path): k-means posting
    // lists, query probes the nprobe nearest lists. nprobe = #cells is the
    // exact endpoint of the recall/latency dial (every posting list
    // scanned ⇒ brute-force answer regardless of the centroids), which is
    // what the DuckDB oracle checks; PRUNED probes (nprobe<k) are
    // spec-verified (recall); their recall/latency dial is recorded in
    // BASELINE.md ("ANN design experiment").
    QueryDef(
      "wr_ann_ivf",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") === 1)
          .select(col("embedding")).collect()(0)
          .getSeq[Float](0).toArray
        val (cents, index) = ivfFor(s, d)
        Similarity.ivfTopK(index, "vec_id", "embedding", cents, q, 10, nprobe = 8)
          .select(col("vec_id"), round(col("cos_sim"), 4).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
      },
      Some(
        """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
          |sims AS (
          |  SELECT e.vec_id,
          |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) /
          |      (sqrt(sum(CAST(e.embedding[i] AS DOUBLE) ^ 2)) *
          |       sqrt(sum(CAST(q.qe[i] AS DOUBLE) ^ 2))) AS cs
          |  FROM embeddings e, q, generate_series(1, 64) AS g(i)
          |  GROUP BY e.vec_id)
          |SELECT vec_id, round(cs, 4) AS cos_sim
          |FROM (SELECT * FROM sims ORDER BY cs DESC, vec_id LIMIT 10)
          |ORDER BY cos_sim DESC, vec_id""".stripMargin),
      Seq("similarity_search", "ivf", "ann_topk", "kmeans")),

    // ANN-index-on-ingest: half the embedding corpus bootstraps a durable
    // IVF index (quantizer train + seed save — the amortized BUILD step,
    // memoized like ivfFor's), the other half streams in through a
    // 3-file source — each micro-batch assigned against the FROZEN
    // centroids (broadcast argmax, no shuffle, no retrain) and landed in
    // its own idempotent batch=<id> delta directory. The probe runs over
    // seed ∪ deltas at nprobe = k: the exact regime (every cell read),
    // so the oracle is DuckDB's brute-force cosine over the FULL corpus
    // — any vector the ingest lost, duplicated, or misrouted breaks the
    // hash. Pruned nprobe < k (PartitionFilters across both trees) and
    // replay idempotence are IncrementalAnnSpec's; the recall dial is in
    // BASELINE.md ("ANN design experiment").
    QueryDef(
      "stream_ann_ingest",
      (s, d) => {
        import graft.wrangling.IncrementalAnn
        val emb = Tables.embeddings(s, d)
        val rest = emb.filter(col("vec_id") % 2 =!= 0)
          .select(col("vec_id"), col("embedding"))
        val (base, cents) = Registry.memoize(annIngestCache, (s, d)) {
          // pid+session-salted fresh root (Registry.scratchDir) to match
          // the cache's per-session memoization — a second session in
          // this JVM must not delete the live index the first session
          // still probes
          val b = Registry.scratchDir(s, "graft_ann", d, freshRoot = true)
          val cs = IncrementalAnn.bootstrap(
            emb.filter(col("vec_id") % 2 === 0), s"$b/index",
            "vec_id", "embedding", k = 8, iters = 2)
          rest.repartition(3, col("vec_id")).write
            .mode("overwrite").parquet(s"$b/src")
          (b, cs)
        }
        // fresh checkpoint per invocation: the engine re-runs all three
        // ticks with batchIds 0..2, overwriting the same delta dirs —
        // every rerun IS a crash-window replay over the durable index
        graft.core.Fs.rm(new java.io.File(s"$base/ckpt"))
        val srcDir = s"$base/src"
        val stream = s.readStream.schema(rest.schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
        val q = IncrementalAnn.streamToIndex(stream, s"$base/index",
          "vec_id", "embedding", s"$base/ckpt")
        q.awaitTermination()
        val qv = emb.filter(col("vec_id") === 2)
          .select(col("embedding")).collect()(0)
          .getSeq[Float](0).toArray
        Similarity.ivfTopK(
          IncrementalAnn.postings(s, s"$base/index", "vec_id", "embedding"),
          "vec_id", "embedding", cents, qv, 10, nprobe = 8)
          .select(col("vec_id"), round(col("cos_sim"), 4).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
      },
      Some(
        """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 2),
          |sims AS (
          |  SELECT e.vec_id,
          |    sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) /
          |      (sqrt(sum(CAST(e.embedding[i] AS DOUBLE) ^ 2)) *
          |       sqrt(sum(CAST(q.qe[i] AS DOUBLE) ^ 2))) AS cs
          |  FROM embeddings e, q, generate_series(1, 64) AS g(i)
          |  GROUP BY e.vec_id)
          |SELECT vec_id, round(cs, 4) AS cos_sim
          |FROM (SELECT * FROM sims ORDER BY cs DESC, vec_id LIMIT 10)
          |ORDER BY cos_sim DESC, vec_id""".stripMargin),
      Seq("similarity_search", "ivf", "ann_topk", "stream_ingest",
        "incremental_index")),

    // Multimodal VIDEO pipeline through the hash gate, mirroring
    // wr_audio_pipeline: y4m payloads deterministically synthesized from
    // doc_id (8×8 mono, 5 frames, frame i uniformly base+4i where
    // base = 16 + (doc_id%16)*8 — the container encode + decode + frame
    // sampling + descriptor math are all REAL), so DuckDB can oracle the
    // whole pipeline analytically: mean luma over frames = base+8, mean
    // |frame diff| = 4, sampled frames = 5.
    QueryDef(
      "wr_video_pipeline",
      (s, d) => {
        import s.implicits._
        import graft.wrangling.Multimodal
        import Multimodal._
        val media = Tables.documents(s, d)
          .filter(col("doc_id") < 200).select(col("doc_id")).as[Long]
          .map { id =>
            val w = 8; val h = 8
            val base = 16 + (id % 16).toInt * 8
            val frames = (0 until 5).map { i =>
              Array.fill[Byte](w * h)((base + 4 * i).toByte)
            }
            // HALF the corpus rides the COMPRESSED container (MJPEG-in-AVI,
            // real JPEG DCT per frame), half uncompressed y4m — the same
            // analytic oracle holds for both because JPEG reconstructs
            // uniform frames exactly (DC-only blocks), so the container
            // mix is itself under the hash gate.
            val payload =
              if (id % 2 == 0) MediaCodec.encodeVideoAviMjpeg(w, h, 25, 1, frames)
              else MediaCodec.encodeVideoY4M(w, h, 25, 1, frames)
            MediaRow(id, payload, MediaMeta("video", w, h, 0, 200))
          }
          // persisted: both consumers (frame features + descriptors) read
          // this frame — unpersisted, every per-frame JPEG/Y4M encode ran
          // twice per run (see the audio pipeline's matching note)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        graft.core.TransientCaches.trackTable(media.toDF())
        val feats = Multimodal.extractVideoFeatures(media, frameStride = 1)
        val desc = media.map { r =>
          val frames = MediaCodec.decodeVideo(r.payload).get._4
          val dd = MediaCodec.videoDescriptors(frames)
          (r.media_id, dd(0), dd(2))
        }.toDF("media_id", "mean_luma", "motion")
        feats.toDF().select(col("media_id"), col("n_frames"))
          .join(desc, "media_id")
          .orderBy(col("media_id"))
      },
      Some("""SELECT doc_id AS media_id, CAST(5 AS INT) AS n_frames,
             |  CAST(16 + (doc_id % 16) * 8 + 8 AS DOUBLE) AS mean_luma,
             |  CAST(4 AS DOUBLE) AS motion
             |FROM documents WHERE doc_id < 200 ORDER BY media_id""".stripMargin),
      Seq("multimodal", "video_decode", "frame_sample", "feature_extract")),

    // MinHash signatures under the HASH GATE: the production path keys on
    // xxhash64 (no DuckDB counterpart -> rows-only), but the machinery —
    // distinct shingles -> k seeded hashes -> min-aggregation — is
    // engine-portable over md5 (the BottomKAgg trick). Four signature
    // components per document, byte-compared against DuckDB.
    QueryDef(
      "wr_minhash_md5_sig",
      (s, d) => {
        val shingled = Tables.documents(s, d)
          .filter(col("doc_id") <= 100)
          .select(col("doc_id"),
            explode(TextOps.wordShingles(col("text"), 1)).as("sh"))
        shingled.groupBy(col("doc_id"))
          .agg(
            min(md5(concat(lit("s0:"), col("sh")).cast("binary"))).as("sig0"),
            min(md5(concat(lit("s1:"), col("sh")).cast("binary"))).as("sig1"),
            min(md5(concat(lit("s2:"), col("sh")).cast("binary"))).as("sig2"),
            min(md5(concat(lit("s3:"), col("sh")).cast("binary"))).as("sig3"))
          .orderBy(col("doc_id"))
      },
      Some(sqlWithToks("""SELECT doc_id,
             |  min(md5('s0:' || sh)) AS sig0, min(md5('s1:' || sh)) AS sig1,
             |  min(md5('s2:' || sh)) AS sig2, min(md5('s3:' || sh)) AS sig3
             |FROM (SELECT doc_id,
             |        unnest(list_distinct(TOKS(text))) AS sh
             |      FROM documents WHERE doc_id <= 100)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
      Seq("deduplicate", "minhash", "value_hash", "sketch")),

    // URL canonicalization (the web-corpus URL-dedup key): synthetic
    // tracking-laden URLs built from customer rows, normalized to the
    // canonical form. Path and query are decomposed before the tracking
    // strip (a blanket &->? repair corrupts &-in-path URLs); the DuckDB
    // mirror replays the identical RE2-compatible extract/replace chain.
    QueryDef(
      "wr_url_canonical",
      (s, d) => {
        import graft.wrangling.TextOps
        val name = regexp_replace(col("c_name"), "[ #]", ".")
        val u = concat(lit("HTTP://WWW.Shop"),
          (col("c_custkey") % 7).cast("string"),
          lit(".COM:80/item/"), name, lit("/?utm_source=mail&id="),
          col("c_custkey").cast("string"), lit("&utm_campaign=x#sec"))
        Tables.customer(s, d)
          .filter(col("c_custkey") <= 120)
          .select(col("c_custkey"), TextOps.normalizeUrl(u).as("canon_url"))
          .orderBy(col("c_custkey"))
      },
      Some("""WITH t AS (
             |  SELECT c_custkey,
             |    'HTTP://WWW.Shop' || CAST(c_custkey % 7 AS VARCHAR) ||
             |    '.COM:80/item/' || regexp_replace(c_name, '[ #]', '.', 'g') ||
             |    '/?utm_source=mail&id=' || CAST(c_custkey AS VARCHAR) ||
             |    '&utm_campaign=x#sec' AS u
             |  FROM customer WHERE c_custkey <= 120),
             |p AS (
             |  SELECT c_custkey,
             |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             |    regexp_replace(regexp_replace(lower(regexp_extract(u,
             |      '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2)),
             |      '^www\.', ''), ':80$', '') AS host,
             |    regexp_extract(u,
             |      '^([A-Za-z][A-Za-z0-9+.-]*)://[^/?#]*([^#]*)', 2) AS rest0
             |  FROM t),
             |q AS (
             |  SELECT c_custkey, scheme, host,
             |    regexp_replace(regexp_extract(rest0, '^([^?]*)', 1), '/$', '')
             |      AS pth,
             |    regexp_replace(regexp_replace(regexp_replace(
             |      regexp_extract(rest0, '^[^?]*\?(.*)$', 1),
             |      '(^|&)(utm_[A-Za-z]*|fbclid)=[^&]*', '', 'g'),
             |      '^&+', ''), '&+$', '') AS qry
             |  FROM p)
             |SELECT c_custkey,
             |  scheme || '://' || host || pth ||
             |  CASE WHEN qry = '' THEN '' ELSE '?' || qry END AS canon_url
             |FROM q ORDER BY c_custkey""".stripMargin),
      Seq("url_canonicalize", "dedup", "text_analysis")),

    // Unicode NFC normalization (the C4/CCNet text-hygiene pass): the
    // corpus is already NFC, so the probe appends a combining-acute
    // sequence ("e" + U+0301) that NFC must fold to "é" — both engines
    // normalize the same constructed string (DuckDB: nfc_normalize).
    QueryDef(
      "wr_unicode_nfc",
      (s, d) => {
        import graft.wrangling.TextOps
        Tables.documents(s, d)
          .filter(col("doc_id") <= 50)
          .select(col("doc_id"),
            TextOps.normalizeNfc(
              concat(substring(col("text"), 1, 40), lit("e\u0301")))
              .as("norm"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  nfc_normalize(text[:40] || 'e' || chr(769)) AS norm
             |FROM documents WHERE doc_id <= 50 ORDER BY doc_id""".stripMargin),
      Seq("unicode_normalize", "text_analysis")),

    // Dedup-on-ingest: the same corpus subset as wr_minhash_lsh streams
    // through a 3-file hash-split (batches decorrelated from doc order),
    // each micro-batch is near-dup-checked against the durable LSH index
    // built by the PRIOR batches, flags accumulate, the batch's bands and
    // shingles are indexed. Same oracle as the batch LSH dedup — the
    // incremental path must reproduce the all-pairs result exactly, in
    // any batching (the spec additionally proves batching-independence
    // and replay idempotence with controlled streams).
    QueryDef(
      "stream_dedup_ingest",
      (s, d) => {
        import graft.wrangling.IncrementalDedup
        // fresh index/checkpoint per run; pid+session-salted
        // (Registry.scratchDir) like the other stateful fixtures
        val base = Registry.scratchDir(s, "graft_dedup", d,
          fresh = Seq("index", "ckpt"))
        val docs = Tables.documents(s, d).filter(col("doc_id") < 200)
          .select(col("doc_id"), col("text"))
        val srcDir = s"$base/src"
        if (!java.nio.file.Files.exists(
            java.nio.file.Paths.get(s"$srcDir/_SUCCESS")))
          docs.repartition(3, col("doc_id")).write
            .mode("overwrite").parquet(srcDir)
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
        val q = IncrementalDedup.streamToIndex(stream, s"$base/index",
          "doc_id", "text", threshold = 0.5, checkpointDir = s"$base/ckpt")
        q.awaitTermination()
        IncrementalDedup.flags(s, s"$base/index")
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(sqlWithToks(s"""WITH ${minhashPairsCtes()}
           |SELECT id_a, id_b, round(jac, 6) AS jaccard
           |FROM j WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin)),
      Seq("deduplicate", "minhash", "lsh", "stream_ingest", "incremental_index"))
  )
}
