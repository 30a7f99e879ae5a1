package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryDef
import graft.api.Memo
import graft.api.Memo.MemoOps
import graft.sources.Tables
import graft.functions.TextFns

/** Corpus curation filters: the reject/flag/rebalance passes a training
  * pipeline runs between raw ingest and tokenization.
  *
  *  - `qualityFilter`: Gopher-style hard rules (length, lexical
  *    diversity, stopword load, mean token length) → keep + reasons.
  *  - `contamination`: n-gram overlap of every candidate doc against a
  *    held-out benchmark subset (deterministic hash-selected) — the
  *    eval-leakage check run before any model sees the corpus.
  *  - `piiScan`: email/phone/long-digit detection + redacted-text hash.
  *  - `domainMix`: deterministic per-source quota sampling to hit a
  *    target domain mixture exactly.
  *
  * Scale: qualityFilter and piiScan are pure per-row column expressions
  * (whole-stage codegen, zero shuffle — scan speed at 100 TB).
  * contamination shuffles shingles, volume ∝ distinct n-grams, and the
  * benchmark side is tiny → broadcast semi-join; at a 100 TB corpus vs
  * a few-GB benchmark the candidate side never moves. domainMix is one
  * count-groupBy + one window rank per source — the quota join is a
  * 20-row broadcast.
  */
object CurationQuality {
  // qualityFilter rule constants (tuned so each rule fires on this corpus)
  val MinToks = 20L
  val MaxToks = 80L
  val MinDistinctRatio = 0.45
  val MaxStopRatio = 0.3
  val MinMeanLen = 3.0
  val MaxMeanLen = 10.0
  // contamination
  val ShingleW = 3
  val BenchPctFloor = 97L // hash%100 >= 97 → ~3% held-out benchmark
  val ContamThreshold = 0.1
  // domainMix: even-numbered sources get 3× the weight of odd ones
  val EvenWeight = 0.075
  val OddWeight = 0.025
  // piiScan regexes — shared RE2/Java subset (no backrefs/lookarounds)
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val DigitRunRe = "[0-9]{9,}"
  val PhoneRe = "\\+?[0-9][0-9() -]{6,}[0-9]"

  private def toksDf(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"),
        split(col("text"), " ").as("toks"))

  /** Family memos (r17, the pagerank/louvain producer-charged
    * convention): four relations were recomputed identically by many
    * curation entries in every pass — the hard-rule quality gate
    * (qualityFilter: 9 call sites across the classifier, the
    * standalone entry, pipelines v1–v5/v7 and the dataset card), the
    * 20-GD-round learned gate (qualityClassifier: recomputed whole by
    * cur_pipeline_v6), and the v2–v5 shared decontamination / +
    * repetition id sets. Session memos (graft.api.Memo), released
    * between families; the FIRST entry in declaration order pays the
    * build (cur_quality_classifier for the gate memos,
    * cur_pipeline_v2/v3 for the id sets). Results are bit-identical:
    * every consumer joins the same relation it previously rebuilt
    * inline (guide §1.2 step 1 — don't compute things twice). */

  /** Hard-rule quality filter: keep + semicolon-joined fail reasons.
    * All thresholds compare ROUNDED ratios so a last-ulp float delta
    * can't flip a verdict between engines. */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame =
    Memo.session("CurationQuality", "qf", spark, dir)(
      qualityFilterPlan(spark, dir).memoized())

  private def qualityFilterPlan(spark: SparkSession, dir: String): DataFrame =
    toksDf(spark, dir)
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("distinct_ratio", round(expr("size(array_distinct(toks)) / size(toks)"), 6))
      .withColumn("stop_ratio", round(expr("size(filter(toks, t -> t = 'the' OR t = 'a')) / size(toks)"), 6))
      .withColumn("mean_len", round(expr("aggregate(toks, 0L, (acc, t) -> acc + length(t)) / size(toks)"), 6))
      .withColumn("reasons", concat_ws(";",
        when(col("n_toks") < MinToks || col("n_toks") > MaxToks, "len"),
        when(col("distinct_ratio") < MinDistinctRatio, "div"),
        when(col("stop_ratio") > MaxStopRatio, "stop"),
        when(col("mean_len") < MinMeanLen || col("mean_len") > MaxMeanLen, "charlen")))
      .select(col("doc_id"), col("n_toks"), col("distinct_ratio"),
        col("stop_ratio"), col("mean_len"),
        col("reasons"), (col("reasons") === "").as("keep"))
      .orderBy("doc_id")

  /** Benchmark-contamination check: fraction of each candidate doc's
    * distinct 3-gram shingles that appear in the hash-held-out benchmark
    * subset. The benchmark shingle set is DISTINCT and small → Spark
    * broadcasts the semi-join side; candidates never shuffle. */
  def contamination(spark: SparkSession, dir: String): DataFrame =
    graft.api.GraftOps.contaminationScan(
        Tables.documents(spark, dir), "doc_id", "text",
        isBench = TextFns.hash32(col("doc_id").cast("string")) % 100 >= BenchPctFloor,
        w = ShingleW, threshold = ContamThreshold)
      .orderBy("doc_id")

  /** Bloom-filter contamination screen — the BOUNDED-MEMORY sibling of
    * cur_contamination: the benchmark's shingle set is folded into a
    * fixed 2¹⁸-bit Bloom filter (K=3 md5-derived positions per
    * shingle, bits packed 63 per BIGINT word — the sign bit is left
    * unused so shift/AND semantics can't differ across engines), and
    * candidates probe the broadcast filter instead of joining the full
    * shingle set. At a 100 TB corpus vs a benchmark-suite of ANY size
    * this is a constant ~32 KB broadcast and a pure scan — the memory
    * path where the exact op's broadcast grows with the benchmark.
    * False positives are possible (≈(1−e^(−Kn/M))^K), false negatives
    * are not; the whole filter is deterministic, so the oracle replays
    * bit-for-bit and the spec certifies hits ⊇ exact hits. */
  val BloomBits = 262144L
  val BloomK = 3
  def contaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("is_bench",
        TextFns.hash32(col("doc_id").cast("string")) % 100 >= BenchPctFloor)
    val sh = base.select(col("doc_id"), col("is_bench"),
        explode(array_distinct(TextFns.shingles("toks", ShingleW))).as("sh"))
    val pos = sh.select(col("doc_id"), col("is_bench"), col("sh"),
        explode(array((0 until BloomK).map(lit): _*)).as("j"))
      .withColumn("pos",
        TextFns.hash32(concat(col("sh"), lit("#"), col("j").cast("string"))) % BloomBits)
      .withColumn("word", expr("pos div 63"))
      .withColumn("mask", expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))"))
      .memoized() // feeds the filter build AND the probe side
    val bloom = pos.filter(col("is_bench"))
      .groupBy("word").agg(bit_or(col("mask")).as("bits"))
    val probe = pos.filter(!col("is_bench"))
      .join(broadcast(bloom), Seq("word"), "left")
      .groupBy("doc_id", "sh")
      .agg(min(when((col("bits").bitwiseAND(col("mask"))) === col("mask"), 1L)
        .otherwise(0L)).as("hit"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), sum(col("hit")).as("n_hits"))
    base.filter(!col("is_bench")).select(col("doc_id"))
      .join(probe, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("ratio",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(round(col("n_hits") / col("n_shingles"), 6)))
      .withColumn("flagged", col("ratio") >= ContamThreshold)
      .orderBy("doc_id")
  }

  private lazy val contaminationBloomOracle: String = {
    val js = (0 until BloomK).mkString(", ")
    s"""WITH b AS (SELECT doc_id, string_split(text, ' ') AS toks,
                          $hashSql % 100 >= $BenchPctFloor AS is_bench
                   FROM documents),
          sh AS (SELECT doc_id, is_bench, unnest($shingleSql) AS sh
                 FROM b WHERE len(toks) >= $ShingleW),
          pos AS MATERIALIZED (
            SELECT doc_id, is_bench, sh,
                   ('0x' || substr(md5(sh || '#' || u.j), 1, 8))::BIGINT % $BloomBits AS pos
            FROM sh, unnest([$js]) u(j)),
          bloom AS MATERIALIZED (
            SELECT pos // 63 AS word,
                   bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS bits
            FROM pos WHERE is_bench GROUP BY 1),
          probe AS (SELECT p.doc_id, p.sh,
                           min(CASE WHEN (bl.bits & (CAST(1 AS BIGINT) << CAST(p.pos % 63 AS INT)))
                                      = (CAST(1 AS BIGINT) << CAST(p.pos % 63 AS INT))
                                    THEN 1 ELSE 0 END) AS hit
                    FROM pos p LEFT JOIN bloom bl ON bl.word = p.pos // 63
                    WHERE NOT p.is_bench GROUP BY 1, 2),
          tot AS (SELECT doc_id, count(*) AS n_shingles, sum(hit) AS n_hits
                  FROM probe GROUP BY 1),
          cand AS (SELECT doc_id FROM b WHERE NOT is_bench)
        SELECT c.doc_id,
               coalesce(t.n_shingles, 0)::BIGINT AS n_shingles,
               coalesce(t.n_hits, 0)::BIGINT AS n_hits,
               CASE WHEN coalesce(t.n_shingles, 0) = 0 THEN 0.0
                    ELSE round(coalesce(t.n_hits, 0) / CAST(t.n_shingles AS DOUBLE), 6) END AS ratio,
               CASE WHEN coalesce(t.n_shingles, 0) = 0 THEN FALSE
                    ELSE round(coalesce(t.n_hits, 0) / CAST(t.n_shingles AS DOUBLE), 6) >= $ContamThreshold END AS flagged
        FROM cand c LEFT JOIN tot t USING (doc_id)
        ORDER BY c.doc_id"""
  }

  /** PII scan: match counts per class + md5 of the redacted text.
    * (This corpus is synthetic lowercase prose, so counts are 0 here;
    * the ScalaTest spec drives crafted rows through the same exprs.) */
  def piiScan(spark: SparkSession, dir: String): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        DigitRunRe, "<ID>"),
      PhoneRe, "<PHONE>")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(DigitRunRe)).cast("long").as("n_digit_runs"),
        regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
        md5(redacted).as("redacted_hash"))
      .orderBy("doc_id")
  }

  /** Deterministic domain-mix sampling: per-source quotas that realize a
    * target mixture exactly; docs chosen by hash rank (reproducible on
    * any cluster size — no rand()). Total T = min over sources of
    * n_s / p_s, quota_s = floor(p_s · T). */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val pExpr: Column = when(
      expr("CAST(substring(source, 4) AS INT)") % 2 === 0, EvenWeight
    ).otherwise(OddWeight)
    graft.api.GraftOps.domainMixSample(
        Tables.documents(spark, dir), "doc_id", "source", weight = pExpr)
      .orderBy("source", "doc_id")
  }

  /** The composed curation pipeline — quality filter → MinHash near-dup
    * clustering among survivors → keep one per cluster → deterministic
    * 80/10/10 split — reported as per-split doc/token counts. Each stage
    * is an already-verified operator; this QueryDef proves they COMPOSE
    * (the real shape of a production corpus build) and the oracle
    * replays the full chain in SQL.
    * Scale: stages are narrow joins on doc_id between the stages'
    * shuffles; nothing recomputes — survivors flow straight through. */
  /** doc_ids surviving quality gate → benchmark decontamination — the
    * shared v2–v5 pipeline prefix (identical inputs, identical flags:
    * the scan reads only (doc_id, text) of the survivor set, which the
    * four pipelines construct identically). Producer-charged to
    * cur_pipeline_v2 (first consumer in declaration order). */
  private def cleanIds(spark: SparkSession, dir: String): DataFrame =
    Memo.session("CurationQuality", "cleanIds", spark, dir) {
      val qd = Tables.documents(spark, dir)
        .join(qualityFilter(spark, dir).filter(col("keep")).select("doc_id"), "doc_id")
        .select("doc_id", "text")
      graft.api.GraftOps.contaminationScan(qd, "doc_id", "text",
          isBench = TextFns.hash32(col("doc_id").cast("string")) % 100 >= BenchPctFloor,
          w = ShingleW, threshold = ContamThreshold)
        .filter(!col("flagged")).select("doc_id").memoized()
    }

  /** [[cleanIds]] minus Gopher-repetitive docs — the shared v3–v5
    * prefix. Producer-charged to cur_pipeline_v3. */
  private def calmIds(spark: SparkSession, dir: String): DataFrame =
    Memo.session("CurationQuality", "calmIds", spark, dir) {
      val clean = Tables.documents(spark, dir)
        .join(cleanIds(spark, dir), "doc_id")
        .select(col("doc_id"), col("text"))
      Repetition.signals(clean)
        .filter(!col("repetitive")).select("doc_id").memoized()
    }

  def pipeline(spark: SparkSession, dir: String): DataFrame = {
    val survivors = qualityFilter(spark, dir).filter(col("keep")).select("doc_id")
    val qdocs = Tables.documents(spark, dir).join(survivors, "doc_id")
    val pairs = graft.api.GraftOps.minhashCandidates(qdocs, "doc_id", "text")
      .select(col("a"), col("b"))
    val cc = graft.api.GraftOps.connectedComponents(pairs, "a", "b", Dedup.ClusterIters)
    val kept = qdocs
      .join(cc, col("doc_id") === cc("v"), "left")
      .filter(col("doc_id") === coalesce(col("comp"), col("doc_id")))
    Curation.splitHash(kept, "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .orderBy("split")
  }

  /** The FULL composed corpus build — every curation stage in one
    * verified chain: quality filter → decontamination (the held-out
    * hash slice of the survivors is the benchmark; flagged candidates
    * AND the bench docs themselves leave the training pool) → MinHash
    * near-dup clustering with one keeper per cluster → deterministic
    * domain-mix quotas → 80/10/10 split, reported as per-split
    * doc/token counts. Extends `cur_pipeline` with the contamination
    * and mix stages; the oracle replays all five stages in SQL.
    * Scale: each stage is its registered operator's shape; stages chain
    * through narrow doc_id joins, nothing recomputes. */
  def pipelineV2(spark: SparkSession, dir: String): DataFrame = {
    // the quality→decontamination prefix is the family-memoized
    // cleanIds relation (shared with v3/v4/v5); joining it to the raw
    // docs yields exactly the rows the inline chain produced (cleanIds
    // ⊆ quality survivors by construction)
    val clean = Tables.documents(spark, dir)
      .join(cleanIds(spark, dir), "doc_id")
      .select("doc_id", "text", "source")
      .memoized() // pair build + keeper join + mix all consume it
    val pairs = graft.api.GraftOps.minhashCandidates(clean, "doc_id", "text")
      .select(col("a"), col("b"))
    val cc = graft.api.GraftOps.connectedComponents(pairs, "a", "b", Dedup.ClusterIters)
    val kept = clean
      .join(cc, col("doc_id") === cc("v"), "left")
      .filter(col("doc_id") === coalesce(col("comp"), col("doc_id")))
      .select(col("doc_id"), col("text"), col("source"))
    val pExpr: Column = when(
      expr("CAST(substring(source, 4) AS INT)") % 2 === 0, EvenWeight
    ).otherwise(OddWeight)
    val mixed = graft.api.GraftOps
      .domainMixSample(kept, "doc_id", "source", weight = pExpr)
      .select("doc_id")
    Curation.splitHash(kept.join(mixed, "doc_id"), "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .orderBy("split")
  }

  /** v3 = the full v2 chain with the Gopher REPETITION gate inserted
    * between decontamination and near-dup clustering — quality rules →
    * benchmark decontamination → repetition flags (Rae et al. Table A1,
    * the cur_repetition signals over the surviving docs only) → MinHash
    * clustering keeper → domain mix → split. The repetition stage costs
    * one n-gram explode over the POST-filter corpus (strictly less work
    * than running it standalone first — filters run cheapest-first).
    * The oracle replays all six stages. */
  def pipelineV3(spark: SparkSession, dir: String): DataFrame = {
    // quality→decontamination→repetition prefix = the family-memoized
    // calmIds relation (shared with v4/v5)
    val calm = Tables.documents(spark, dir)
      .join(calmIds(spark, dir), "doc_id")
      .select("doc_id", "text", "source")
      .memoized() // pair build + keeper join + mix all consume it
    val pairs = graft.api.GraftOps.minhashCandidates(calm, "doc_id", "text")
      .select(col("a"), col("b"))
    val cc = graft.api.GraftOps.connectedComponents(pairs, "a", "b", Dedup.ClusterIters)
    val kept = calm
      .join(cc, col("doc_id") === cc("v"), "left")
      .filter(col("doc_id") === coalesce(col("comp"), col("doc_id")))
      .select(col("doc_id"), col("text"), col("source"))
    val pExpr: Column = when(
      expr("CAST(substring(source, 4) AS INT)") % 2 === 0, EvenWeight
    ).otherwise(OddWeight)
    val mixed = graft.api.GraftOps
      .domainMixSample(kept, "doc_id", "source", weight = pExpr)
      .select("doc_id")
    Curation.splitHash(kept.join(mixed, "doc_id"), "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .orderBy("split")
  }

  private lazy val pipelineV2Oracle: String =
    s"""WITH qdocs AS MATERIALIZED (
            SELECT doc_id, text, source, toks
            FROM (SELECT *, string_split(text, ' ') AS toks FROM documents)
            WHERE $qualityPassSql
          ),
          cb AS MATERIALIZED (SELECT doc_id, toks,
                 $hashSql % 100 >= $BenchPctFloor AS is_bench FROM qdocs),
          csh AS MATERIALIZED (SELECT doc_id, is_bench, unnest($shingleSql) AS sh
                 FROM (SELECT * FROM cb WHERE len(toks) >= $ShingleW)),
          bench AS (SELECT DISTINCT sh FROM csh WHERE is_bench),
          ctot AS (SELECT doc_id, count(*) AS n FROM csh WHERE NOT is_bench GROUP BY 1),
          chit AS (SELECT s.doc_id, count(*) AS h FROM csh s JOIN bench USING (sh)
                   WHERE NOT s.is_bench GROUP BY 1),
          clean AS MATERIALIZED (
            SELECT q.doc_id, q.text, q.source
            FROM cb b JOIN qdocs q USING (doc_id)
            LEFT JOIN ctot t USING (doc_id) LEFT JOIN chit h USING (doc_id)
            WHERE NOT b.is_bench AND
              (CASE WHEN coalesce(t.n, 0) = 0 THEN 0.0
                    ELSE round(coalesce(h.h, 0) / CAST(t.n AS DOUBLE), 6) END)
                < $ContamThreshold),
          ${Dedup.minhashPairCtesFrom("clean")},
          edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs
                    UNION ALL SELECT b, a FROM pairs),
          l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS comp FROM edges),
          ${Graph.ccUnrolledCtes(Dedup.ClusterIters)},
          kept AS MATERIALIZED (SELECT c.doc_id, c.text, c.source FROM clean c
                 LEFT JOIN l${Dedup.ClusterIters} l ON c.doc_id = l.v
                 WHERE c.doc_id = coalesce(l.comp, c.doc_id)),
          counts AS (SELECT source, count(*) AS n,
                            CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                                 THEN CAST($EvenWeight AS DOUBLE)
                                 ELSE CAST($OddWeight AS DOUBLE) END AS p
                     FROM kept GROUP BY 1),
          t2 AS (SELECT min(n / p) AS t FROM counts),
          quotas AS (SELECT source, floor(p * t2.t) AS quota FROM counts, t2),
          ranked AS (SELECT doc_id, source, text,
                            row_number() OVER (PARTITION BY source
                              ORDER BY $hashSql, doc_id) AS rn
                     FROM kept),
          mixed AS (SELECT r.doc_id, r.text FROM ranked r
                    JOIN quotas q USING (source) WHERE r.rn <= q.quota)
        SELECT CASE WHEN $hashSql % 100 < ${Curation.TrainUpper} THEN 'train'
                    WHEN $hashSql % 100 < ${Curation.ValUpper} THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM mixed GROUP BY 1 ORDER BY split"""

  private lazy val pipelineV3Oracle: String =
    s"""WITH qdocs AS MATERIALIZED (
            SELECT doc_id, text, source, toks
            FROM (SELECT *, string_split(text, ' ') AS toks FROM documents)
            WHERE $qualityPassSql
          ),
          cb AS MATERIALIZED (SELECT doc_id, toks,
                 $hashSql % 100 >= $BenchPctFloor AS is_bench FROM qdocs),
          csh AS MATERIALIZED (SELECT doc_id, is_bench, unnest($shingleSql) AS sh
                 FROM (SELECT * FROM cb WHERE len(toks) >= $ShingleW)),
          bench AS (SELECT DISTINCT sh FROM csh WHERE is_bench),
          ctot AS (SELECT doc_id, count(*) AS n FROM csh WHERE NOT is_bench GROUP BY 1),
          chit AS (SELECT s.doc_id, count(*) AS h FROM csh s JOIN bench USING (sh)
                   WHERE NOT s.is_bench GROUP BY 1),
          clean AS MATERIALIZED (
            SELECT q.doc_id, q.text, q.source
            FROM cb b JOIN qdocs q USING (doc_id)
            LEFT JOIN ctot t USING (doc_id) LEFT JOIN chit h USING (doc_id)
            WHERE NOT b.is_bench AND
              (CASE WHEN coalesce(t.n, 0) = 0 THEN 0.0
                    ELSE round(coalesce(h.h, 0) / CAST(t.n AS DOUBLE), 6) END)
                < $ContamThreshold),
          ${Repetition.repetitionCtesFrom("clean")},
          calm AS MATERIALIZED (
            SELECT c.doc_id, c.text, c.source FROM clean c
            JOIN rep r ON c.doc_id = r.doc_id WHERE NOT r.repetitive),
          ${Dedup.minhashPairCtesFrom("calm")},
          edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs
                    UNION ALL SELECT b, a FROM pairs),
          l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS comp FROM edges),
          ${Graph.ccUnrolledCtes(Dedup.ClusterIters)},
          kept AS MATERIALIZED (SELECT c.doc_id, c.text, c.source FROM calm c
                 LEFT JOIN l${Dedup.ClusterIters} l ON c.doc_id = l.v
                 WHERE c.doc_id = coalesce(l.comp, c.doc_id)),
          counts AS (SELECT source, count(*) AS n,
                            CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                                 THEN CAST($EvenWeight AS DOUBLE)
                                 ELSE CAST($OddWeight AS DOUBLE) END AS p
                     FROM kept GROUP BY 1),
          t2 AS (SELECT min(n / p) AS t FROM counts),
          quotas AS (SELECT source, floor(p * t2.t) AS quota FROM counts, t2),
          ranked AS (SELECT doc_id, source, text,
                            row_number() OVER (PARTITION BY source
                              ORDER BY $hashSql, doc_id) AS rn
                     FROM kept),
          mixed AS (SELECT r.doc_id, r.text FROM ranked r
                    JOIN quotas q USING (source) WHERE r.rn <= q.quota)
        SELECT CASE WHEN $hashSql % 100 < ${Curation.TrainUpper} THEN 'train'
                    WHEN $hashSql % 100 < ${Curation.ValUpper} THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM mixed GROUP BY 1 ORDER BY split"""

  /** v4 — the SEVEN-stage corpus build: the v3 chain plus the two
    * MIXTURE-CONTROL stages. A DSIR keep gate (hashed-unigram
    * importance weight > 0, model trained on the POST-repetition pool —
    * selection models train on the pool they select from) runs after
    * the repetition gate and before the expensive near-dup pass
    * (filters cheapest-first); the static domain quotas are replaced by
    * √-temperature LANGUAGE mixing over the dedup keepers (the
    * mT5/unimax shape — head languages cut toward uniform). Every
    * stage is an already-verified operator core; ONE oracle replays
    * all seven. */
  def pipelineV4(spark: SparkSession, dir: String): DataFrame = {
    // same memoized calmIds prefix as v3 (the scan reads only
    // (doc_id, text), so the lang-vs-source projection difference
    // between the pipelines cannot change the id set)
    val calm = Tables.documents(spark, dir)
      .join(calmIds(spark, dir), "doc_id")
      .select("doc_id", "text", "lang")
      .memoized()
    val dsirKeep = Mixing.dsirWeights(calm.select(col("doc_id"), col("lang"), col("text")))
      .filter(col("w_micro") > 0).select("doc_id")
    val pool = calm.join(dsirKeep, "doc_id").memoized()
    val pairs = graft.api.GraftOps.minhashCandidates(pool, "doc_id", "text")
      .select(col("a"), col("b"))
    val cc = graft.api.GraftOps.connectedComponents(pairs, "a", "b", Dedup.ClusterIters)
    val kept = pool
      .join(cc, col("doc_id") === cc("v"), "left")
      .filter(col("doc_id") === coalesce(col("comp"), col("doc_id")))
      .select(col("doc_id"), col("text"), col("lang"))
    val mixed = Mixing.temperatureFilter(
        kept.select(col("doc_id"), col("lang")), "lang", "doc_id")
      .select("doc_id")
    Curation.splitHash(kept.join(mixed, "doc_id"), "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .orderBy("split")
  }

  /** v5 — the EIGHT-stage corpus build: v4's chain (quality gate →
    * benchmark decontamination → Gopher repetition gate → DSIR
    * importance gate → MinHash near-dup collapse → √-temperature
    * language mixing → hash split) with the KN-LM PERPLEXITY gate
    * (cur_perplexity_kn's reference-LM discipline — model trained on
    * the FULL corpus, gate applied to the current pool) inserted
    * after the repetition gate. Every stage's core is an
    * independently-verified operator; the oracle replays the entire
    * chain end-to-end. */
  def pipelineV5(spark: SparkSession, dir: String): DataFrame = {
    // same memoized calmIds prefix as v3/v4
    val calm = Tables.documents(spark, dir)
      .join(calmIds(spark, dir), "doc_id")
      .select("doc_id", "text", "lang")
      .memoized()
    val fluent = calm
      .join(TextRank.knKeep(spark, dir, calm.select(col("doc_id"), col("text"))), "doc_id")
      .memoized()
    val dsirKeep = Mixing.dsirWeights(fluent.select(col("doc_id"), col("lang"), col("text")))
      .filter(col("w_micro") > 0).select("doc_id")
    val pool = fluent.join(dsirKeep, "doc_id").memoized()
    val pairs = graft.api.GraftOps.minhashCandidates(pool, "doc_id", "text")
      .select(col("a"), col("b"))
    val cc = graft.api.GraftOps.connectedComponents(pairs, "a", "b", Dedup.ClusterIters)
    val kept = pool
      .join(cc, col("doc_id") === cc("v"), "left")
      .filter(col("doc_id") === coalesce(col("comp"), col("doc_id")))
      .select(col("doc_id"), col("text"), col("lang"))
    val mixed = Mixing.temperatureFilter(
        kept.select(col("doc_id"), col("lang")), "lang", "doc_id")
      .select("doc_id")
    Curation.splitHash(kept.join(mixed, "doc_id"), "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .orderBy("split")
  }

  /** cur_pipeline_v6 — the v5 corpus build with the LEARNED quality
    * gate: stage 1 keeps the docs the weak-supervision classifier
    * ([[qualityClassifier]]) scores as NOT low-quality, instead of the
    * hard Gopher rules that taught it. The distillation payoff in the
    * composed build: the learned gate generalizes past the thresholds
    * (graded scores admit borderline docs the binary rules reject, and
    * vice versa) while every downstream stage — contamination,
    * repetition, KN fluency, DSIR, minhash-CC dedup, temperature mix,
    * split — is unchanged and already verified. The oracle replays the
    * ENTIRE chain including all 20 GD training rounds. */
  def pipelineV6(spark: SparkSession, dir: String): DataFrame = {
    val survivors = qualityClassifier(spark, dir)
      .filter(!col("pred_low")).select("doc_id")
    val qdocs = Tables.documents(spark, dir).join(survivors, "doc_id")
      .select("doc_id", "text", "lang").memoized()
    val contam = graft.api.GraftOps.contaminationScan(qdocs, "doc_id", "text",
      isBench = TextFns.hash32(col("doc_id").cast("string")) % 100 >= BenchPctFloor,
      w = ShingleW, threshold = ContamThreshold)
    val clean = qdocs
      .join(contam.filter(!col("flagged")).select("doc_id"), "doc_id")
      .memoized()
    val calm = clean.join(
        Repetition.signals(clean.select(col("doc_id"), col("text")))
          .filter(!col("repetitive")).select("doc_id"), "doc_id")
      .memoized()
    val fluent = calm
      .join(TextRank.knKeep(spark, dir, calm.select(col("doc_id"), col("text"))), "doc_id")
      .memoized()
    val dsirKeep = Mixing.dsirWeights(fluent.select(col("doc_id"), col("lang"), col("text")))
      .filter(col("w_micro") > 0).select("doc_id")
    val pool = fluent.join(dsirKeep, "doc_id").memoized()
    val pairs = graft.api.GraftOps.minhashCandidates(pool, "doc_id", "text")
      .select(col("a"), col("b"))
    val cc = graft.api.GraftOps.connectedComponents(pairs, "a", "b", Dedup.ClusterIters)
    val kept = pool
      .join(cc, col("doc_id") === cc("v"), "left")
      .filter(col("doc_id") === coalesce(col("comp"), col("doc_id")))
      .select(col("doc_id"), col("text"), col("lang"))
    val mixed = Mixing.temperatureFilter(
        kept.select(col("doc_id"), col("lang")), "lang", "doc_id")
      .select("doc_id")
    Curation.splitHash(kept.join(mixed, "doc_id"), "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .orderBy("split")
  }

  /** The v5 oracle with its rule-gate qdocs head swapped for the full
    * classifier chain (20 unrolled GD rounds + scoring + the keep
    * gate) — everything downstream of qdocs is spliced verbatim from
    * pipelineV5Oracle, so the two builds cannot drift. */
  private lazy val pipelineV6Oracle: String = {
    val (lowSql, featuresSql) = qcSqlParts
    val g = Classify.ProbGrid
    val head =
      s"""${Classify.batchCtesFor(lowSql, iters = QcIters, featuresSql = featuresSql)},
          qsc AS (SELECT p.doc_id, sum(w.wm) AS sc
                  FROM px p JOIN w$QcIters w USING (f) GROUP BY 1),
          qpred AS MATERIALIZED (SELECT doc_id FROM qsc
                  WHERE CAST(floor((1.0 / (1.0 + exp(-(sc / 1e6)))) * $g + 0.5) AS BIGINT)
                        <= ${(g / 2).toLong}),
          qdocs AS MATERIALIZED (
            SELECT d.doc_id, d.text, d.lang, string_split(d.text, ' ') AS toks
            FROM documents d JOIN qpred USING (doc_id))"""
    s"""WITH $head,
          $pipelineV5TailSql"""
  }

  private lazy val pipelineV5Oracle: String =
    s"""WITH qdocs AS MATERIALIZED (
            SELECT doc_id, text, lang, toks
            FROM (SELECT *, string_split(text, ' ') AS toks FROM documents)
            WHERE $qualityPassSql
          ),
          $pipelineV5TailSql"""

  /** Everything downstream of the qdocs gate, shared VERBATIM by the
    * v5 and v6 oracles (v6 swaps only the gate) — a named constant
    * instead of the previous substring splice, so a rename/reformat of
    * the first CTE can no longer silently malform the v6 query. */
  private lazy val pipelineV5TailSql: String =
    s"""cb AS MATERIALIZED (SELECT doc_id, toks,
                 $hashSql % 100 >= $BenchPctFloor AS is_bench FROM qdocs),
          csh AS MATERIALIZED (SELECT doc_id, is_bench, unnest($shingleSql) AS sh
                 FROM (SELECT * FROM cb WHERE len(toks) >= $ShingleW)),
          bench AS (SELECT DISTINCT sh FROM csh WHERE is_bench),
          ctot AS (SELECT doc_id, count(*) AS n FROM csh WHERE NOT is_bench GROUP BY 1),
          chit AS (SELECT s.doc_id, count(*) AS h FROM csh s JOIN bench USING (sh)
                   WHERE NOT s.is_bench GROUP BY 1),
          clean AS MATERIALIZED (
            SELECT q.doc_id, q.text, q.lang
            FROM cb b JOIN qdocs q USING (doc_id)
            LEFT JOIN ctot t USING (doc_id) LEFT JOIN chit h USING (doc_id)
            WHERE NOT b.is_bench AND
              (CASE WHEN coalesce(t.n, 0) = 0 THEN 0.0
                    ELSE round(coalesce(h.h, 0) / CAST(t.n AS DOUBLE), 6) END)
                < $ContamThreshold),
          ${Repetition.repetitionCtesFrom("clean")},
          calm AS MATERIALIZED (
            SELECT c.doc_id, c.text, c.lang FROM clean c
            JOIN rep r ON c.doc_id = r.doc_id WHERE NOT r.repetitive),
          ${TextRank.knScoreCtesFrom("calm")},
          fluent AS MATERIALIZED (
            SELECT c.doc_id, c.text, c.lang FROM calm c
            JOIN knkeep USING (doc_id)),
          ${Mixing.dsirCtesFrom("fluent")},
          pool AS MATERIALIZED (
            SELECT c.doc_id, c.text, c.lang FROM fluent c
            JOIN dsirw w USING (doc_id) WHERE w.w_micro > 0),
          ${Dedup.minhashPairCtesFrom("pool")},
          edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs
                    UNION ALL SELECT b, a FROM pairs),
          l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS comp FROM edges),
          ${Graph.ccUnrolledCtes(Dedup.ClusterIters)},
          kept AS MATERIALIZED (SELECT c.doc_id, c.text, c.lang FROM pool c
                 LEFT JOIN l${Dedup.ClusterIters} l ON c.doc_id = l.v
                 WHERE c.doc_id = coalesce(l.comp, c.doc_id)),
          ${Mixing.mixTempCtesFrom("kept")},
          mixed AS (SELECT k.doc_id, k.text FROM kept k JOIN tkeep USING (doc_id))
        SELECT CASE WHEN $hashSql % 100 < ${Curation.TrainUpper} THEN 'train'
                    WHEN $hashSql % 100 < ${Curation.ValUpper} THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM mixed GROUP BY 1 ORDER BY split"""

  private lazy val pipelineV4Oracle: String =
    s"""WITH qdocs AS MATERIALIZED (
            SELECT doc_id, text, lang, toks
            FROM (SELECT *, string_split(text, ' ') AS toks FROM documents)
            WHERE $qualityPassSql
          ),
          cb AS MATERIALIZED (SELECT doc_id, toks,
                 $hashSql % 100 >= $BenchPctFloor AS is_bench FROM qdocs),
          csh AS MATERIALIZED (SELECT doc_id, is_bench, unnest($shingleSql) AS sh
                 FROM (SELECT * FROM cb WHERE len(toks) >= $ShingleW)),
          bench AS (SELECT DISTINCT sh FROM csh WHERE is_bench),
          ctot AS (SELECT doc_id, count(*) AS n FROM csh WHERE NOT is_bench GROUP BY 1),
          chit AS (SELECT s.doc_id, count(*) AS h FROM csh s JOIN bench USING (sh)
                   WHERE NOT s.is_bench GROUP BY 1),
          clean AS MATERIALIZED (
            SELECT q.doc_id, q.text, q.lang
            FROM cb b JOIN qdocs q USING (doc_id)
            LEFT JOIN ctot t USING (doc_id) LEFT JOIN chit h USING (doc_id)
            WHERE NOT b.is_bench AND
              (CASE WHEN coalesce(t.n, 0) = 0 THEN 0.0
                    ELSE round(coalesce(h.h, 0) / CAST(t.n AS DOUBLE), 6) END)
                < $ContamThreshold),
          ${Repetition.repetitionCtesFrom("clean")},
          calm AS MATERIALIZED (
            SELECT c.doc_id, c.text, c.lang FROM clean c
            JOIN rep r ON c.doc_id = r.doc_id WHERE NOT r.repetitive),
          ${Mixing.dsirCtesFrom("calm")},
          pool AS MATERIALIZED (
            SELECT c.doc_id, c.text, c.lang FROM calm c
            JOIN dsirw w USING (doc_id) WHERE w.w_micro > 0),
          ${Dedup.minhashPairCtesFrom("pool")},
          edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs
                    UNION ALL SELECT b, a FROM pairs),
          l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS comp FROM edges),
          ${Graph.ccUnrolledCtes(Dedup.ClusterIters)},
          kept AS MATERIALIZED (SELECT c.doc_id, c.text, c.lang FROM pool c
                 LEFT JOIN l${Dedup.ClusterIters} l ON c.doc_id = l.v
                 WHERE c.doc_id = coalesce(l.comp, c.doc_id)),
          ${Mixing.mixTempCtesFrom("kept")},
          mixed AS (SELECT k.doc_id, k.text FROM kept k JOIN tkeep USING (doc_id))
        SELECT CASE WHEN $hashSql % 100 < ${Curation.TrainUpper} THEN 'train'
                    WHEN $hashSql % 100 < ${Curation.ValUpper} THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM mixed GROUP BY 1 ORDER BY split"""

  /** The DATASET CARD — the one-page summary a training-data release
    * ships with (docs/tokens/slices, quality-keep and contamination
    * rates, near-dup pair count), computed as ONE lazy union of
    * single-value aggregates over already-verified operator cores.
    * Every metric is independently replayed by the oracle; at 100 TB
    * each row is a scan-or-reuse aggregate, nothing new shuffles. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def row(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("metric"), round(col("v").cast("double"), 6).as("value"))
    val toks = docs.select(size(split(col("text"), " ")).cast("long").as("nt"))
      .agg(sum(col("nt")).as("s"), count(lit(1)).as("c"))
    Seq(
      row("01_n_docs", docs.agg(count(lit(1)).as("v"))),
      row("02_n_tokens", toks.select(col("s").as("v"))),
      row("03_mean_doc_tokens",
        toks.select((col("s").cast("double") / col("c").cast("double")).as("v"))),
      row("04_n_langs", docs.agg(countDistinct(col("lang")).as("v"))),
      row("05_n_sources", docs.agg(countDistinct(col("source")).as("v"))),
      row("06_quality_keep_rate", qualityFilter(spark, dir)
        .agg((sum(when(col("keep"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("v"))),
      row("07_contamination_rate", contamination(spark, dir)
        .agg((sum(when(col("flagged"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("v"))),
      row("08_near_dup_pairs",
        Dedup.dedupMinhash(spark, dir).agg(count(lit(1)).as("v"))),
    ).reduce(_ unionAll _).orderBy("metric")
  }

  private lazy val datasetCardOracle: String =
    s"""WITH base AS (SELECT doc_id, text, lang, source, string_split(text, ' ') AS toks FROM documents),
          tk AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS s, count(*) AS c FROM base),
          q AS (SELECT sum(CASE WHEN $qualityPassSql THEN 1 ELSE 0 END)::DOUBLE
                       / count(*)::DOUBLE AS r FROM base),
          cb2 AS (SELECT doc_id, toks, $hashSql % 100 >= $BenchPctFloor AS is_bench FROM base),
          csh2 AS (SELECT doc_id, is_bench, unnest($shingleSql) AS sh
                   FROM cb2 WHERE len(toks) >= $ShingleW),
          bench2 AS (SELECT DISTINCT sh FROM csh2 WHERE is_bench),
          ctot2 AS (SELECT doc_id, count(*) AS n FROM csh2 WHERE NOT is_bench GROUP BY 1),
          chit2 AS (SELECT s.doc_id, count(*) AS h FROM csh2 s JOIN bench2 USING (sh)
                    WHERE NOT s.is_bench GROUP BY 1),
          crate AS (SELECT sum(CASE WHEN
                        (CASE WHEN coalesce(t.n, 0) = 0 THEN 0.0
                              ELSE round(coalesce(h.h, 0) / CAST(t.n AS DOUBLE), 6) END)
                          >= $ContamThreshold THEN 1 ELSE 0 END)::DOUBLE
                         / count(*)::DOUBLE AS r
                    FROM (SELECT doc_id FROM cb2 WHERE NOT is_bench) c
                    LEFT JOIN ctot2 t USING (doc_id) LEFT JOIN chit2 h USING (doc_id)),
          ${Dedup.minhashPairCtesFrom("documents")},
          np AS (SELECT count(*) AS n FROM pairs)
        SELECT metric, round(value, 6) AS value FROM (
          SELECT '01_n_docs' AS metric, (SELECT c FROM tk)::DOUBLE AS value
          UNION ALL SELECT '02_n_tokens', (SELECT s FROM tk)::DOUBLE
          UNION ALL SELECT '03_mean_doc_tokens', (SELECT s::DOUBLE / c::DOUBLE FROM tk)
          UNION ALL SELECT '04_n_langs', (SELECT count(DISTINCT lang) FROM base)::DOUBLE
          UNION ALL SELECT '05_n_sources', (SELECT count(DISTINCT source) FROM base)::DOUBLE
          UNION ALL SELECT '06_quality_keep_rate', (SELECT r FROM q)
          UNION ALL SELECT '07_contamination_rate', (SELECT r FROM crate)
          UNION ALL SELECT '08_near_dup_pairs', (SELECT n FROM np)::DOUBLE)
        ORDER BY metric"""

  private val qualityPassSql: String =
    s"""NOT (CAST(len(toks) AS BIGINT) < $MinToks OR CAST(len(toks) AS BIGINT) > $MaxToks)
        AND round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6) >= $MinDistinctRatio
        AND round(len(list_filter(toks, t -> t = 'the' OR t = 'a')) / CAST(len(toks) AS DOUBLE), 6) <= $MaxStopRatio
        AND round(list_sum(list_transform(toks, t -> length(t))) / CAST(len(toks) AS DOUBLE), 6)
            BETWEEN $MinMeanLen AND $MaxMeanLen"""

  /** v7: the BUDGETED corpus build — quality rules → near-dup cluster
    * keepers → token-budget selection (admit the highest-diversity
    * score buckets within 3/5 of the surviving pool's tokens — the
    * cur_token_budget seam) → 80/10/10 split. The composition the
    * r12 additions exist for: selection runs AFTER dedup so budget
    * isn't spent on duplicates, and the admit step is the
    * histogram-frontier filter (score ≥ cutoff), never a global row
    * sort. Stages chain through narrow doc_id joins. */
  def pipelineV7(spark: SparkSession, dir: String): DataFrame = {
    val survivors = qualityFilter(spark, dir).filter(col("keep")).select("doc_id")
    val qdocs = Tables.documents(spark, dir).join(survivors, "doc_id")
      .select("doc_id", "text").memoized()
    val pairs = graft.api.GraftOps.minhashCandidates(qdocs, "doc_id", "text")
      .select(col("a"), col("b"))
    val cc = graft.api.GraftOps.connectedComponents(pairs, "a", "b", Dedup.ClusterIters)
    val kept = qdocs
      .join(cc, col("doc_id") === cc("v"), "left")
      .filter(col("doc_id") === coalesce(col("comp"), col("doc_id")))
      .select(col("doc_id"), col("text"))
      .memoized() // consumed by the budget histogram AND the admit filter
    val admitted = Curation.tokenBudgetAdmit(kept)
    Curation.splitHash(kept.join(admitted, "doc_id"), "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .orderBy("split")
  }

  private lazy val pipelineV7Oracle: String =
    s"""WITH qdocs AS MATERIALIZED (
            SELECT doc_id, text
            FROM (SELECT *, string_split(text, ' ') AS toks FROM documents)
            WHERE $qualityPassSql
          ),
          ${Dedup.minhashPairCtesFrom("qdocs")},
          edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs
                    UNION ALL SELECT b, a FROM pairs),
          l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS comp FROM edges),
          ${Graph.ccUnrolledCtes(Dedup.ClusterIters)},
          kept AS MATERIALIZED (SELECT d.doc_id, d.text FROM qdocs d
                   LEFT JOIN l${Dedup.ClusterIters} l ON d.doc_id = l.v
                   WHERE d.doc_id = coalesce(l.comp, d.doc_id)),
          ${Curation.tokenBudgetAdmitCtesFrom("kept")},
          sel AS (SELECT k.doc_id, k.text FROM kept k JOIN admitted USING (doc_id))
        SELECT CASE WHEN $hashSql % 100 < ${Curation.TrainUpper} THEN 'train'
                    WHEN $hashSql % 100 < ${Curation.ValUpper} THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM sel GROUP BY 1 ORDER BY split"""

  // lazy: references hashSql, declared after it in the object body
  private lazy val pipelineOracle: String =
    s"""WITH qdocs AS MATERIALIZED (
            SELECT doc_id, text
            FROM (SELECT *, string_split(text, ' ') AS toks FROM documents)
            WHERE $qualityPassSql
          ),
          ${Dedup.minhashPairCtesFrom("qdocs")},
          edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs
                    UNION ALL SELECT b, a FROM pairs),
          l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS comp FROM edges),
          ${Graph.ccUnrolledCtes(Dedup.ClusterIters)},
          kept AS (SELECT d.doc_id, d.text FROM qdocs d
                   LEFT JOIN l${Dedup.ClusterIters} l ON d.doc_id = l.v
                   WHERE d.doc_id = coalesce(l.comp, d.doc_id))
        SELECT CASE WHEN $hashSql % 100 < ${Curation.TrainUpper} THEN 'train'
                    WHEN $hashSql % 100 < ${Curation.ValUpper} THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM kept GROUP BY 1 ORDER BY split"""

  /** CCNet-style per-language quality bucketing (Wenzek et al. 2020):
    * score every doc by its rare-bigram fraction under the corpus
    * add-one bigram LM (the text_lm_score model — a count-based
    * EXACT-rational proxy for perplexity: a sum-of-logs perplexity
    * would be float-accumulation-order-sensitive across engines), then
    * split each language into head/middle/tail terciles.
    *
    * The tercile rank is NOT a per-language window over the corpus
    * (one reducer per language = the classic skew wall): a per-(lang,
    * score) histogram (small — scores are bounded rationals) carries
    * cumulative base ranks, and each doc computes its final rank as
    * base + its row_number within its (lang, score) TIE GROUP — the
    * shuffle keys on (lang, score), far finer than lang. Bucket
    * boundaries are integer arithmetic (rnk·3 vs n), tie order is
    * (score, doc_id) — fully deterministic, no float ranking. */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val docBig = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val pair = docBig.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = pair.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val vocab = docBig.select(col("w2")).unionAll(docBig.select(col("w1").as("w2")))
      .agg(countDistinct(col("w2")).as("v"))
    val perDoc = docBig
      .join(pair, Seq("w1", "w2")).join(uni, "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("p", (col("c12") + 1) / (col("c1") + col("v")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("p") < TextRank.RareP, 1L).otherwise(0L)).as("n_rare"))
    val scored = docs.select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("score",
        coalesce(col("n_rare") / col("n_bigrams"), lit(1.0)))
      .select(col("doc_id"), col("lang"), col("score"))
    val nLang = scored.groupBy("lang").agg(count(lit(1)).as("n"))
    val hist = scored.groupBy("lang", "score").agg(count(lit(1)).as("c"))
      .withColumn("base", sum(col("c")).over(
        Window.partitionBy(col("lang")).orderBy(col("score"))) - col("c"))
    scored.join(hist.select(col("lang"), col("score"), col("base")), Seq("lang", "score"))
      .withColumn("tie", row_number().over(
        Window.partitionBy(col("lang"), col("score")).orderBy(col("doc_id"))).cast("long"))
      .join(nLang, "lang")
      .withColumn("rnk", col("base") + col("tie"))
      .withColumn("bucket",
        when(col("rnk") * 3 <= col("n"), lit("head"))
          .when(col("rnk") * 3 <= col("n") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("lang"), round(col("score"), 6).as("score"),
        col("bucket"))
      .orderBy("doc_id")
  }

  private val ccnetOracle: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          db AS MATERIALIZED (SELECT doc_id, u.b.w1 AS w1, u.b.w2 AS w2
                 FROM d, unnest([{'w1': toks[i], 'w2': toks[i+1]}
                                 for i in generate_series(1, len(toks) - 1)]) AS u(b)
                 WHERE len(toks) >= 2),
          pair AS MATERIALIZED (SELECT w1, w2, count(*) AS c12 FROM db GROUP BY 1, 2),
          uni AS (SELECT w1, sum(c12) AS c1 FROM pair GROUP BY 1),
          v AS (SELECT count(DISTINCT w2) AS v
                FROM (SELECT w2 FROM db UNION ALL SELECT w1 FROM db)),
          pd AS (SELECT db.doc_id, count(*) AS n_bigrams,
                        sum(CASE WHEN (pair.c12 + 1) / (CAST(uni.c1 AS DOUBLE) + v.v)
                                 < ${TextRank.RareP} THEN 1 ELSE 0 END) AS n_rare
                 FROM db JOIN pair ON db.w1 = pair.w1 AND db.w2 = pair.w2
                 JOIN uni ON db.w1 = uni.w1, v
                 GROUP BY 1),
          sc AS MATERIALIZED (SELECT doc.doc_id, doc.lang,
                        coalesce(pd.n_rare / CAST(pd.n_bigrams AS DOUBLE), 1.0) AS score
                 FROM documents doc LEFT JOIN pd ON doc.doc_id = pd.doc_id),
          nl AS (SELECT lang, count(*) AS n FROM sc GROUP BY 1),
          hist AS (SELECT lang, score, count(*) AS c FROM sc GROUP BY 1, 2),
          cum AS (SELECT lang, score,
                         sum(c) OVER (PARTITION BY lang ORDER BY score) - c AS base
                  FROM hist),
          rnked AS (SELECT s.doc_id, s.lang, s.score,
                           cum.base + row_number() OVER (
                             PARTITION BY s.lang, s.score ORDER BY s.doc_id) AS rnk,
                           nl.n
                    FROM sc s JOIN cum ON s.lang = cum.lang AND s.score = cum.score
                    JOIN nl ON s.lang = nl.lang)
        SELECT doc_id, lang, round(score, 6) AS score,
               CASE WHEN rnk * 3 <= n THEN 'head'
                    WHEN rnk * 3 <= n * 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM rnked ORDER BY doc_id"""

  // single source of truth for the doc_id hash mirror (parity-critical)
  private def hashSql = Curation.hashSql
  private val shingleSql =
    "list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] " +
      "for i in generate_series(1, len(toks) - 2)])"

  /** WEAK-SUPERVISION quality classifier — the CCNet/fastText move a
    * production corpus pipeline makes once hard rules exist: the
    * Gopher-rule verdicts ([[qualityFilter]]'s `keep`) become weak
    * labels, Classify's grid-exact batch-GD logistic trainer fits
    * hashed-token weights to them, and every document gets a LEARNED
    * low-quality probability — which generalizes past the rules
    * (smooth scores where rules are binary, signal on docs near the
    * thresholds). Output: per-doc weak label, grid-exact p(low), and
    * the classifier's verdict; the spec measures agreement with the
    * weak labels (the classifier must learn its teacher) and shows
    * the scores are graded, not a rule copy.
    *
    * Scale: exactly ml_logreg_batch's shape — BatchIters corpus
    * passes, each one |tokens| join + two groupBys, weights a
    * FeatureSpace-sized table; the label derivation is the pure
    * per-row qualityFilter expression fused into the instance scan. */
  val QcIters = 20

  /** The student's feature map: hashed tokens PLUS quantized
    * heuristic-bucket tokens ("len#4", "dr#6", "sr#1", "ml#9" →
    * hashed into the same space) — the fastText-style trick that
    * makes threshold rules LINEARLY representable: the weak "low"
    * label fires at BOTH length extremes (U-shaped in token count),
    * which no linear bag-of-tokens score can express, but per-bucket
    * weights are a step function and can. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    Memo.session("CurationQuality", "qc", spark, dir)(
      qualityClassifierPlan(spark, dir).memoized())

  private def qualityClassifierPlan(spark: SparkSession, dir: String): DataFrame = {
    val qf = qualityFilter(spark, dir)
      .select(col("doc_id"), (!col("keep")).as("is_spam"),
        col("n_toks"), col("distinct_ratio"), col("stop_ratio"), col("mean_len"))
    def h(e: String): String =
      s"CAST(CAST(conv(substring(md5($e), 1, 8), 16, 10) AS BIGINT) % ${Classify.FeatureSpace} AS INT)"
    val inst = Tables.documents(spark, dir)
      .join(qf, "doc_id")
      .select(col("doc_id"), col("is_spam"),
        expr("array_sort(array_distinct(concat(" +
          s"transform(split(text, ' '), t -> ${h("t")}), " +
          s"array(${h("concat('len#', CAST(n_toks div 10 AS STRING))")}, " +
          s"${h("concat('dr#', CAST(CAST(floor(distinct_ratio * 10) AS BIGINT) AS STRING))")}, " +
          s"${h("concat('sr#', CAST(CAST(floor(stop_ratio * 10) AS BIGINT) AS STRING))")}, " +
          s"${h("concat('ml#', CAST(CAST(floor(mean_len * 2) AS BIGINT) AS STRING))")}))))")
          .as("features"))
    val (px, w) = Classify.trainBatchOn(inst, iters = QcIters)
    val g = Classify.ProbGrid
    px.join(w, "f")
      .groupBy("doc_id")
      .agg(first(col("is_spam")).as("weak_low"), sum(col("wm")).as("sc"))
      .withColumn("p",
        floor((lit(1.0) / (lit(1.0) + exp(-(col("sc") / 1e6)))) * g + 0.5).cast("long"))
      .select(col("doc_id"), col("weak_low"),
        round(col("p") / g, 6).as("p_low"),
        (col("p") > lit((g / 2).toLong)).as("pred_low"))
      .orderBy("doc_id")
  }

  private lazy val qcSqlParts: (String, String) = {
    val toks = "string_split(text, ' ')"
    val nt = s"CAST(len($toks) AS BIGINT)"
    val dr = s"round(len(list_distinct($toks)) / CAST(len($toks) AS DOUBLE), 6)"
    val sr = s"round(len(list_filter($toks, t -> t = 'the' OR t = 'a')) / CAST(len($toks) AS DOUBLE), 6)"
    val ml = s"round(list_sum(list_transform($toks, t -> length(t))) / CAST(len($toks) AS DOUBLE), 6)"
    val lowSql =
      s"""(($nt < $MinToks OR $nt > $MaxToks)
           OR $dr < $MinDistinctRatio
           OR $sr > $MaxStopRatio
           OR $ml < $MinMeanLen OR $ml > $MaxMeanLen)"""
    def h(e: String): String =
      s"CAST(('0x' || substr(md5($e), 1, 8))::BIGINT % ${Classify.FeatureSpace} AS INT)"
    val featuresSql =
      s"""list_transform($toks, t -> ${h("t")}) ||
                 [${h(s"'len#' || CAST($nt // 10 AS VARCHAR)")},
                  ${h(s"'dr#' || CAST(CAST(floor($dr * 10) AS BIGINT) AS VARCHAR)")},
                  ${h(s"'sr#' || CAST(CAST(floor($sr * 10) AS BIGINT) AS VARCHAR)")},
                  ${h(s"'ml#' || CAST(CAST(floor($ml * 2) AS BIGINT) AS VARCHAR)")}]"""
    (lowSql, featuresSql)
  }

  private lazy val qualityClassifierOracle: String = {
    val (lowSql, featuresSql) = qcSqlParts
    val g = Classify.ProbGrid
    s"""WITH ${Classify.batchCtesFor(lowSql, iters = QcIters, featuresSql = featuresSql)},
          sc AS (SELECT p.doc_id, any_value(p.is_spam) AS weak_low, sum(w.wm) AS sc
                 FROM px p JOIN w$QcIters w USING (f) GROUP BY 1),
          pr AS (SELECT doc_id, weak_low,
                        CAST(floor((1.0 / (1.0 + exp(-(sc / 1e6)))) * $g + 0.5) AS BIGINT) AS p
                 FROM sc)
        SELECT doc_id, weak_low, round(p / $g, 6) AS p_low,
               p > ${(g / 2).toLong} AS pred_low
        FROM pr ORDER BY doc_id"""
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("cur_quality_classifier", qualityClassifier, Some(qualityClassifierOracle)),
    QueryDef("cur_ccnet_buckets", ccnetBuckets, Some(ccnetOracle)),
    QueryDef("cur_quality_filter", qualityFilter, Some(
      s"""WITH b AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
                        round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6) AS distinct_ratio,
                        round(len(list_filter(toks, t -> t = 'the' OR t = 'a')) / CAST(len(toks) AS DOUBLE), 6) AS stop_ratio,
                        round(list_sum(list_transform(toks, t -> length(t))) / CAST(len(toks) AS DOUBLE), 6) AS mean_len
                 FROM b),
           r AS (SELECT *, concat_ws(';',
                        CASE WHEN n_toks < $MinToks OR n_toks > $MaxToks THEN 'len' END,
                        CASE WHEN distinct_ratio < $MinDistinctRatio THEN 'div' END,
                        CASE WHEN stop_ratio > $MaxStopRatio THEN 'stop' END,
                        CASE WHEN mean_len < $MinMeanLen OR mean_len > $MaxMeanLen THEN 'charlen' END) AS reasons
                 FROM m)
          SELECT doc_id, n_toks, distinct_ratio, stop_ratio, mean_len, reasons,
                 reasons = '' AS keep
          FROM r ORDER BY doc_id""")),
    QueryDef("cur_contamination_bloom", contaminationBloom, Some(contaminationBloomOracle)),
    QueryDef("cur_contamination", contamination, Some(
      s"""WITH b AS (SELECT doc_id, string_split(text, ' ') AS toks,
                            $hashSql % 100 >= $BenchPctFloor AS is_bench
                     FROM documents),
           sh AS (SELECT doc_id, is_bench, unnest($shingleSql) AS sh
                  FROM b WHERE len(toks) >= $ShingleW),
           bench AS (SELECT DISTINCT sh FROM sh WHERE is_bench),
           tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh WHERE NOT is_bench GROUP BY 1),
           hit AS (SELECT s.doc_id, count(*) AS n_hits
                   FROM sh s JOIN bench USING (sh) WHERE NOT s.is_bench GROUP BY 1),
           cand AS (SELECT doc_id FROM b WHERE NOT is_bench)
          SELECT c.doc_id, coalesce(t.n_shingles, 0) AS n_shingles,
                 coalesce(h.n_hits, 0) AS n_hits,
                 CASE WHEN coalesce(t.n_shingles, 0) = 0 THEN 0.0
                      ELSE round(coalesce(h.n_hits, 0) / CAST(t.n_shingles AS DOUBLE), 6) END AS ratio,
                 CASE WHEN coalesce(t.n_shingles, 0) = 0 THEN 0.0
                      ELSE round(coalesce(h.n_hits, 0) / CAST(t.n_shingles AS DOUBLE), 6) END
                   >= $ContamThreshold AS flagged
          FROM cand c LEFT JOIN tot t ON c.doc_id = t.doc_id
                      LEFT JOIN hit h ON c.doc_id = h.doc_id
          ORDER BY c.doc_id""")),
    QueryDef("cur_pii", piiScan, Some(
      s"""SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
                 CAST(len(regexp_extract_all(text, '$DigitRunRe')) AS BIGINT) AS n_digit_runs,
                 CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
                 md5(regexp_replace(regexp_replace(regexp_replace(text,
                     '$EmailRe', '<EMAIL>', 'g'),
                     '$DigitRunRe', '<ID>', 'g'),
                     '$PhoneRe', '<PHONE>', 'g')) AS redacted_hash
          FROM documents ORDER BY doc_id""")),
    QueryDef("cur_pipeline", pipeline, Some(pipelineOracle)),
    QueryDef("cur_pipeline_v2", pipelineV2, Some(pipelineV2Oracle)),
    QueryDef("cur_pipeline_v3", pipelineV3, Some(pipelineV3Oracle)),
    QueryDef("cur_pipeline_v4", pipelineV4, Some(pipelineV4Oracle)),
    QueryDef("cur_pipeline_v5", pipelineV5, Some(pipelineV5Oracle)),
    QueryDef("cur_pipeline_v6", pipelineV6, Some(pipelineV6Oracle)),
    QueryDef("cur_pipeline_v7", pipelineV7, Some(pipelineV7Oracle)),
    QueryDef("cur_dataset_card", datasetCard, Some(datasetCardOracle)),
    QueryDef("cur_domain_mix", domainMix, Some(
      s"""WITH base AS (SELECT source, doc_id, $hashSql AS h FROM documents),
           counts AS (SELECT source, count(*) AS n,
                             CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                                  THEN CAST($EvenWeight AS DOUBLE)
                                  ELSE CAST($OddWeight AS DOUBLE) END AS p
                      FROM base GROUP BY 1),
           t AS (SELECT min(n / p) AS t FROM counts),
           quotas AS (SELECT source, floor(p * t.t) AS quota FROM counts, t),
           ranked AS (SELECT source, doc_id,
                             row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
                      FROM base)
          SELECT r.source, r.doc_id
          FROM ranked r JOIN quotas q ON r.source = q.source
          WHERE r.rn <= q.quota
          ORDER BY r.source, r.doc_id""")),
  )
}
