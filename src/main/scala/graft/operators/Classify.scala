package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.api.Memo
import graft.api.Memo.MemoOps
import graft.sources.Tables
import graft.functions.TextFns

/** Online-SGD logistic regression ("spam classifier").
  *
  * Reference semantics: a5/TrainSpamClassifier.scala:52-90 — a SINGLE
  * sequential SGD pass (delta = 0.002) over instances in input order;
  * the reference forces this with groupByKey(1). We reproduce it with
  * one sorted partition + mapPartitions: identical math, identical
  * visit order, so the weights are deterministic. a5/
  * ApplySpamClassifier.scala:63-81 broadcasts the weight map and scores
  * each instance; a5/ApplyEnsembleSpamClassifier.scala:83-107 adds
  * average/vote combination of several models.
  *
  * Instances are derived from `documents` (no labeled spam corpus in
  * the testdata): label = spam iff doc_id % 3 == 0, features = distinct
  * hashed tokens (hash32 mod 1000) — deterministic, so train → apply is
  * a reproducible end-to-end pipeline.
  *
  * Scale note: sequential SGD is inherently serial — the bottleneck the
  * reference bakes in. At 100 TB you'd switch to minibatch/parameter-
  * averaging (each partition trains, average weights); `trainAveraged`
  * implements that path and the spec checks it agrees with the serial
  * model on sign (prediction) for the test corpus.
  */
object Classify {
  val Delta = 0.002
  val FeatureSpace = 1000

  /** (doc_id, isSpam, features[int], sorted distinct) */
  def instances(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        (col("doc_id") % 3 === 0).as("is_spam"),
        expr(s"array_sort(array_distinct(transform(split(text, ' '), " +
          s"t -> CAST(CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % $FeatureSpace AS INT))))")
          .as("features"))

  /** Sigmoid quantization grid: probabilities are snapped to multiples
    * of 2^-20 (~1e-6, far below the 6-dp reporting precision). Every
    * other float op in the SGD replay is an IEEE add/multiply in a
    * fixed order — bit-deterministic on any engine — so quantizing the
    * ONE libm call (exp differs by ulps across math libraries) makes
    * the full 500-step weight trajectory reproducible bit-for-bit by
    * the DuckDB recursive-CTE oracle.
    *
    * Residual risk: the claim is probabilistic, not absolute — if a
    * step's `sigmoid * 2^20 + 0.5` lands within exp's cross-libm ulp
    * error (~1e-10 at this scale) of an integer, the floor() flips and
    * the trajectories diverge. Chance per step ≈ 2^-33; the spec pins
    * it down on the test corpora via [[minGridMargin]] (every step's
    * scaled sigmoid is far from a grid boundary). */
  val ProbGrid = 1048576.0

  private def sgd(rows: Iterator[(Long, Boolean, Seq[Int])],
                  onMargin: Double => Unit = _ => ()): Map[Int, Double] = {
    val w = scala.collection.mutable.Map[Int, Double]()
    rows.foreach { case (_, isSpam, features) =>
      val score = features.iterator.map(f => w.getOrElse(f, 0.0)).sum
      val x = (1.0 / (1.0 + math.exp(-score))) * ProbGrid + 0.5
      onMargin(math.abs(x - math.rint(x)))
      val prob = math.floor(x) / ProbGrid
      val label = if (isSpam) 1.0 else 0.0
      features.foreach(f => w.update(f, w.getOrElse(f, 0.0) + (label - prob) * Delta))
    }
    w.toMap
  }

  /** Minimum distance of any serial-pass step's scaled sigmoid from an
    * integer grid boundary — the spec asserts this is orders of
    * magnitude above cross-libm exp error, discharging the residual
    * risk documented at [[ProbGrid]]. Driver-side replay; spec-only. */
  private[graft] def minGridMargin(spark: SparkSession, dir: String): Double = {
    import spark.implicits._
    val rows = instances(spark, dir).as[(Long, Boolean, Seq[Int])]
      .collect().sortBy(_._1)
    var min = Double.MaxValue
    sgd(rows.iterator, m => if (m < min) min = m)
    min
  }

  /** Serial SGD (reference semantics): 1 partition, doc_id order.
    * Trained weights are a session memo: apply/ensemble reuse the model
    * instead of re-running the sequential pass. */
  def train(spark: SparkSession, dir: String): DataFrame =
    Memo.session("Classify", "model", spark, dir)(
      trainUncached(spark, dir).memoized())

  private def trainUncached(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    instances(spark, dir)
      .as[(Long, Boolean, Seq[Int])]
      .repartition(1)
      .sortWithinPartitions("doc_id")
      .mapPartitions(rows => sgd(rows).iterator)
      .toDF("feature", "weight")
      .select(col("feature"), round(col("weight"), 6).as("weight"))
      .orderBy("feature")
  }

  /** Shuffled-order serial SGD — the reference's `--shuffle` option
    * (a5/TrainSpamClassifier.scala:19,44-45: instances get a random
    * sort key before the single sequential pass). The reference draws
    * Random.nextInt; we key on md5(doc_id) so the "random" visit order
    * is deterministic — reproducible weights, spec-bounded agreement
    * with the doc_id-order model (SGD visit order shifts float values
    * but rarely flips predictions). */
  def trainShuffled(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    instances(spark, dir)
      .withColumn("__shuf", md5(col("doc_id").cast("string")))
      .repartition(1)
      .sortWithinPartitions("__shuf", "doc_id")
      .select(col("doc_id"), col("is_spam"), col("features"))
      .as[(Long, Boolean, Seq[Int])]
      .mapPartitions(rows => sgd(rows).iterator)
      .toDF("feature", "weight")
      .select(col("feature"), round(col("weight"), 6).as("weight"))
      .orderBy("feature")
  }

  /** Parameter-averaged SGD: each shard runs the serial pass, weights
    * averaged — the distributed path for large corpora. Shard key is
    * the EXPLICIT doc_id % n (not engine-internal partition hashing) so
    * shard membership is replayable by the DuckDB oracle; a physical
    * partition may hold several shards (hash collisions), so the pass
    * splits on shard boundaries after the within-partition sort.
    * Averaging goes through exact micro-unit integers (6-dp weight ×
    * 1e6): the cross-shard sum is a BIGINT — order-free and engine-
    * independent — instead of an order-sensitive float reduction. */
  def trainAveraged(spark: SparkSession, dir: String, partitions: Int = 8): DataFrame = {
    import spark.implicits._
    instances(spark, dir)
      .withColumn("shard", (col("doc_id") % partitions).cast("int"))
      .select("shard", "doc_id", "is_spam", "features")
      .as[(Int, Long, Boolean, Seq[Int])]
      .repartition(partitions, col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      // rows arrive sorted by (shard, doc_id); split on shard
      // boundaries STREAMING — one instance in memory at a time, never
      // the whole partition (a partition may hold several shards via
      // hash collisions, and at corpus scale buffering it would OOM)
      .mapPartitions { it =>
        val b = it.buffered
        Iterator.continually(b).takeWhile(_.hasNext).flatMap { bb =>
          val shard = bb.head._1
          val group = new Iterator[(Long, Boolean, Seq[Int])] {
            def hasNext: Boolean = bb.hasNext && bb.head._1 == shard
            def next(): (Long, Boolean, Seq[Int]) = {
              val (_, id, s, f) = bb.next(); (id, s, f)
            }
          }
          val model = sgd(group) // sgd drains the group fully
          model
        }
      }
      .toDF("feature", "w")
      .select(col("feature"),
        round(round(col("w"), 6) * 1e6).cast("long").as("mw"))
      .groupBy("feature")
      .agg(sum(col("mw")).as("sm"))
      .select(col("feature"),
        round(col("sm").cast("double") / partitions / 1e6, 6).as("weight"))
      .orderBy("feature")
  }

  /** Score all instances with the serially-trained model (broadcast join
    * of the tiny weight table onto exploded features). Scores are summed
    * as exact micro-unit BIGINTs (model weights are 6-dp, so weight×1e6
    * is integral): the per-doc reduction is order-free, which makes the
    * score and the predicted sign bit-replayable by the DuckDB oracle. */
  def apply_(spark: SparkSession, dir: String): DataFrame = {
    val w = train(spark, dir)
      .select(col("feature"), round(col("weight") * 1e6).cast("long").as("mw"))
    val feat = instances(spark, dir)
      .select(col("doc_id"), col("is_spam"), explode(col("features")).as("feature"))
    feat.join(broadcast(w), Seq("feature"), "left")
      .groupBy("doc_id", "is_spam")
      .agg(sum(coalesce(col("mw"), lit(0L))).as("sm"))
      .select(col("doc_id"), col("is_spam"),
        round(col("sm").cast("double") / 1e6, 6).as("score"),
        (col("sm") > 0).as("predicted"))
      .orderBy("doc_id")
  }

  /** Ensemble (reference a5/ApplyEnsembleSpamClassifier.scala:83-107):
    * N models trained on disjoint shards, combined by score-average AND
    * by ±1 vote — the reference loads an arbitrary model directory, so
    * the shard count is a parameter, not a constant. Shard key
    * (doc_id div n) % n mixes labels across shards (doc_id % n would
    * put every spam doc in one shard for n = 3). */
  def ensembleN(spark: SparkSession, dir: String, n: Int): DataFrame = {
    require(n >= 1, s"ensemble needs at least one shard, got $n")
    import spark.implicits._
    val inst = instances(spark, dir)
    val models = (0 until n).map { s =>
      inst.filter(expr(s"(doc_id div $n) % $n = $s"))
        .as[(Long, Boolean, Seq[Int])]
        .repartition(1).sortWithinPartitions("doc_id")
        .mapPartitions(rows => sgd(rows).iterator)
        .toDF("feature", "w")
        // models store 6dp-rounded weights, same as the serial train()
        .select(col("feature"), round(col("w"), 6).as(s"w$s"))
    }
    val feat = inst.select(col("doc_id"), col("is_spam"), explode(col("features")).as("feature"))
    val scored = models.foldLeft(feat) { case (d, m) =>
      d.join(broadcast(m), Seq("feature"), "left")
    }
    // per-shard scores as exact micro-unit BIGINTs (order-free sums) —
    // the combination rules (average, sign votes) then replay exactly
    // in the DuckDB oracle
    val shardSums = (0 until n).map(s =>
      sum(coalesce(round(col(s"w$s") * 1e6).cast("long"), lit(0L))).as(s"s$s"))
    val total = (0 until n).map(s => col(s"s$s")).reduce(_ + _)
    val votes = (0 until n).map(s => when(col(s"s$s") > 0, 1).otherwise(-1)).reduce(_ + _)
    scored
      .groupBy("doc_id", "is_spam")
      .agg(shardSums.head, shardSums.tail: _*)
      .select(col("doc_id"), col("is_spam"),
        round(total.cast("double") / n / 1e6, 6).as("score_avg"),
        votes.cast("long").as("votes"),
        (total > 0).as("predicted_avg"),
        (votes > 0).as("predicted_vote"))
      .orderBy("doc_id")
  }

  /** The registered 3-shard instance of [[ensembleN]]. */
  def ensemble(spark: SparkSession, dir: String): DataFrame =
    ensembleN(spark, dir, 3)

  /** Multinomial Naive Bayes with add-one smoothing — the classical
    * counting classifier, and (unlike sequential SGD) fully expressible
    * as relational aggregation, so train AND apply verify exactly
    * against the DuckDB oracle. Same synthetic labels as the SGD tier.
    * Scale: training is one groupBy over token occurrences (map-side
    * partial counts; shuffle ∝ vocabulary); scoring joins the broadcast
    * model onto exploded tokens — no serial bottleneck anywhere, the
    * shape sequential SGD can't achieve. */
  def nbModel(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") % 3 === 0).as("is_spam"),
        explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
    val counts = tok.groupBy("t").agg(
      sum(when(col("is_spam"), 1L).otherwise(0L)).as("cs"),
      sum(when(!col("is_spam"), 1L).otherwise(0L)).as("ch"))
    val tot = counts.agg(sum(col("cs")).as("ns"), sum(col("ch")).as("nh"),
      count(lit(1)).as("v"))
    counts.crossJoin(broadcast(tot))
      .select(col("t"),
        round(log((col("cs") + 1) / (col("ns") + col("v"))), 6).as("ll_spam"),
        round(log((col("ch") + 1) / (col("nh") + col("v"))), 6).as("ll_ham"))
  }

  def nbTrain(spark: SparkSession, dir: String): DataFrame =
    nbModel(spark, dir).orderBy("t")

  /** Score every doc with the trained model: per-token log-likelihoods
    * (the ROUNDED model values, so both engines sum identical numbers)
    * plus class log-priors; argmax prediction. */
  def nbApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") % 3 === 0).as("is_spam"))
    val priors = docs.agg(
      log(sum(when(col("is_spam"), 1L).otherwise(0L)) / count(lit(1))).as("lp_spam"),
      log(sum(when(!col("is_spam"), 1L).otherwise(0L)) / count(lit(1))).as("lp_ham"))
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
    tok.join(broadcast(nbModel(spark, dir)), "t")
      .groupBy("doc_id")
      .agg(sum(col("ll_spam")).as("ss"), sum(col("ll_ham")).as("sh"))
      .crossJoin(broadcast(priors))
      .join(docs, "doc_id")
      .select(col("doc_id"), col("is_spam"),
        (col("ss") + col("lp_spam") > col("sh") + col("lp_ham")).as("predicted"))
      .withColumn("correct", col("predicted") === col("is_spam"))
      .orderBy("doc_id")
  }

  private val nbModelSql: String =
    """tok AS (SELECT doc_id, doc_id % 3 = 0 AS is_spam, u.t AS t
              FROM documents, unnest(string_split(text, ' ')) AS u(t)
              WHERE u.t <> ''),
       counts AS MATERIALIZED (SELECT t,
                 count(*) FILTER (is_spam) AS cs,
                 count(*) FILTER (NOT is_spam) AS ch
                 FROM tok GROUP BY 1),
       tot AS (SELECT sum(cs) AS ns, sum(ch) AS nh, count(*) AS v FROM counts),
       model AS MATERIALIZED (SELECT t,
                round(ln((cs + 1) / (CAST(ns AS DOUBLE) + v)), 6) AS ll_spam,
                round(ln((ch + 1) / (CAST(nh AS DOUBLE) + v)), 6) AS ll_ham
                FROM counts, tot)"""

  /** DuckDB recursive-CTE replay of the serial SGD — the value oracle
    * for the whole SGD tier. The weight vector is list-valued over the
    * DENSE index of features actually present in the corpus (31 at test
    * scale, not the 1000-wide hash space); one recursion step = one
    * document, visiting shards in lockstep. Bit-exact against Spark
    * because the sigmoid is grid-quantized (see [[ProbGrid]]) and all
    * other float ops are order-fixed IEEE adds/multiplies.
    *
    * @param shardExpr DuckDB expression over doc_id assigning the shard
    * @param orderCols within-shard visit order (the serial pass order)
    */
  private def replayCtes(shardExpr: String, orderCols: String): String =
    s"""WITH RECURSIVE
        inst AS MATERIALIZED (
          SELECT doc_id, doc_id % 3 = 0 AS is_spam, $shardExpr AS shard,
                 list_sort(list_distinct(list_transform(string_split(text, ' '),
                   t -> CAST(('0x' || substr(md5(t), 1, 8))::BIGINT % $FeatureSpace AS INT)))) AS features
          FROM documents),
        seen AS MATERIALIZED (
          SELECT list_sort(list_distinct(flatten(list(features)))) AS fs FROM inst),
        ord AS MATERIALIZED (
          SELECT row_number() OVER (PARTITION BY shard ORDER BY $orderCols) AS step,
                 shard, is_spam,
                 list_transform(features, f -> array_position(fs, f)) AS fidx
          FROM inst, seen),
        sgd AS (
          SELECT shard, CAST(0 AS BIGINT) AS step,
                 list_transform(fs, f -> CAST(0.0 AS DOUBLE)) AS w
          FROM (SELECT DISTINCT shard FROM inst), seen
          UNION ALL
          SELECT shard, step,
                 list_transform(range(1, len(w) + 1), i ->
                   CASE WHEN list_contains(fidx, i)
                        THEN w[i] + (lbl - prob) * $Delta ELSE w[i] END) AS w
          FROM (
            SELECT o.shard, o.step, o.fidx, s.w,
                   CASE WHEN o.is_spam THEN CAST(1.0 AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END AS lbl,
                   floor((1.0 / (1.0 + exp(-coalesce(
                     list_sum(list_transform(o.fidx, i -> s.w[i])), 0.0))))
                     * $ProbGrid + 0.5) / $ProbGrid AS prob
            FROM sgd s JOIN ord o ON o.shard = s.shard AND o.step = s.step + 1)),
        models AS (SELECT shard, arg_max(w, step) AS w FROM sgd GROUP BY shard)"""

  private val SerialOrder = "doc_id"
  private val ShuffledOrder = "md5(CAST(doc_id AS VARCHAR)), doc_id"

  /** Final weights of a single-shard replay as (feature, weight). */
  private def trainOracle(orderCols: String): String =
    s"""${replayCtes("0", orderCols)}
        SELECT f AS feature, round(m.w[array_position(fs, f)], 6) AS weight
        FROM models m, seen, (SELECT unnest(fs) AS f FROM seen)
        ORDER BY feature"""

  /** Micro-unit (6-dp × 1e6 BIGINT) per-shard weight vectors. */
  private val microCte =
    """micro AS (SELECT shard,
         list_transform(w, x -> CAST(round(round(x, 6) * 1000000.0) AS BIGINT)) AS mw
       FROM models)"""

  private def avgOracle(partitions: Int): String =
    s"""${replayCtes(s"doc_id % $partitions", SerialOrder)},
        $microCte,
        sums AS (SELECT i, sum(mw[i]) AS sm
                 FROM micro, (SELECT unnest(range(1, len(fs) + 1)) AS i FROM seen)
                 GROUP BY i)
        SELECT fs[CAST(i AS INT)] AS feature,
               round((CAST(sm AS DOUBLE) / $partitions) / 1000000.0, 6) AS weight
        FROM sums, seen ORDER BY feature"""

  private val applyOracle: String =
    s"""${replayCtes("0", SerialOrder)},
        $microCte
        SELECT doc_id, is_spam,
               round(CAST(s AS DOUBLE) / 1000000.0, 6) AS score,
               s > 0 AS predicted
        FROM (SELECT i.doc_id, i.is_spam,
                     coalesce(list_sum(list_transform(
                       list_transform(i.features, f -> array_position(fs, f)),
                       x -> m.mw[x])), 0) AS s
              FROM inst i, seen, micro m)
        ORDER BY doc_id"""

  private def ensembleOracle(n: Int): String = {
    val sCols = (0 until n).map(s =>
      s"sum(CASE WHEN shard = $s THEN sc ELSE 0 END) AS s$s").mkString(", ")
    val total = (0 until n).map(s => s"s$s").mkString(" + ")
    val votes = (0 until n).map(s =>
      s"(CASE WHEN s$s > 0 THEN 1 ELSE -1 END)").mkString(" + ")
    s"""${replayCtes(s"(doc_id // $n) % $n", SerialOrder)},
        $microCte,
        scores AS (SELECT i.doc_id, i.is_spam, m.shard,
                     coalesce(list_sum(list_transform(
                       list_transform(i.features, f -> array_position(fs, f)),
                       x -> m.mw[x])), 0) AS sc
                   FROM inst i, seen, micro m),
        agg AS (SELECT doc_id, is_spam, $sCols FROM scores GROUP BY 1, 2)
        SELECT doc_id, is_spam,
               round((CAST($total AS DOUBLE) / $n) / 1000000.0, 6) AS score_avg,
               CAST($votes AS BIGINT) AS votes,
               ($total) > 0 AS predicted_avg,
               ($votes) > 0 AS predicted_vote
        FROM agg ORDER BY doc_id"""
  }

  /** Closed-form OLS (n_chars against token count over `documents` —
    * the corpus' real linear law, measured corr 0.998; slope = mean
    * word length + 1) via EXACT integer normal equations — the
    * regression analog of the NB counting classifier: both variables
    * are born integers, so every moment (Σx, Σy, Σx², Σxy, Σy²) is an
    * exact order-free integer sum (decimal(38) accumulators — Σy²
    * outgrows int64 at corpus scale), and slope/intercept/r² are
    * computed from the five moments in ONE double expression each,
    * identical operand order on both engines. No gradient iteration,
    * no learning rate — the one-pass, all-scale way to fit a line:
    * 5 aggregates, zero extra shuffles, and the moments merge across
    * partitions/days by plain addition (the streaming/incremental
    * story for free). LinearRegSpec asserts exact parity with a
    * hand-computed case and the r² > 0.9 fit on the corpus. */
  def mlLinearReg(spark: SparkSession, dir: String): DataFrame =
    linearFit(Tables.documents(spark, dir).select(
      size(split(col("text"), " ")).cast("long").as("x"),
      col("n_chars").as("y")))

  /** The 5-moment OLS core over any (x: long, y: long) frame. */
  def linearFit(b: DataFrame): DataFrame = {
    val s = b.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
      sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
      sum((col("y").cast("decimal(38,0)") * col("y").cast("decimal(38,0)"))).as("syy"))
    def d(c: Column): Column = c.cast("double")
    val num = d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))
    val den = d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
    val deny = d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))
    val slope = num / den
    s.select(col("n"),
      round(slope, 6).as("slope"),
      round((d(col("sy")) - slope * d(col("sx"))) / d(col("n")), 4).as("intercept"),
      round((num * num) / (den * deny), 8).as("r2"))
  }

  private val linearRegOracle: String =
    s"""WITH b AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
                          n_chars AS y
                   FROM documents),
          s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                       sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
                FROM b)
        SELECT n,
               round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
                     (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6) AS slope,
               round((sy::DOUBLE -
                      ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
                       (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)) * sx::DOUBLE)
                     / n::DOUBLE, 4) AS intercept,
               round(((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) *
                      (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)) /
                     ((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
                      (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 8) AS r2
        FROM s"""

  /** Full-batch gradient-descent logistic regression — the SYNCHRONOUS
    * data-parallel trainer next to spam_train's serial SGD: each
    * iteration is one pass of aggregates (score per doc, gradient per
    * feature), so the whole K-iteration train is K rounds of map-side-
    * combined shuffles with NO sequential per-row dependency — the
    * shape that actually scales to a 1000-executor corpus, where the
    * serial-SGD tier exists for reference fidelity.
    *
    * Integer determinism ladder: weights live in micro units (1e-6,
    * BIGINT), scores are exact integer sums of micros, the sigmoid is
    * grid-quantized to 2^-20 (the ProbGrid discipline — the ONE libm
    * call), so per-feature gradients are exact integer sums and each
    * update is floor() on cross-engine-identical doubles. The full
    * trajectory replays bit-for-bit in 5 unrolled DuckDB CTE rounds —
    * no recursion needed, unlike the SGD replay. */
  val BatchIters = 5
  val BatchLr = 0.5

  /** (px, final micro-weight table (f, wm)) — shared by the weight
    * report and the calibration consumer. */
  private[operators] def trainBatch(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    trainBatchOn(instances(spark, dir))

  /** The batch-GD core over ANY (doc_id, is_spam, features) instance
    * table — cur_quality_classifier feeds weak heuristic labels
    * through the same grid-exact trainer. */
  private[operators] def trainBatchOn(instances0: DataFrame,
                                      iters: Int = BatchIters): (DataFrame, DataFrame) = {
    // lineage truncations route through GraftOps.truncate so the
    // reliable-checkpoint toggle covers this iterative core too
    val inst = graft.api.GraftOps.truncate(instances0)
    val px = graft.api.GraftOps.truncate(
      inst.select(col("doc_id"), col("is_spam"), explode(col("features")).as("f"))
    ) // scanned twice per iteration
    val nDf = inst.agg(count(lit(1)).as("nn"))
    var w = graft.api.GraftOps.truncate(
      px.select("f").distinct().withColumn("wm", lit(0L)))
    for (_ <- 1 to iters) {
      val scored = px.join(w, "f")
        .groupBy("doc_id")
        .agg(first(col("is_spam")).as("is_spam"), sum(col("wm")).as("sc"))
      val err = scored.select(col("doc_id"),
        (floor((lit(1.0) / (lit(1.0) + exp(-(col("sc") / 1e6)))) * ProbGrid + 0.5)
          .cast("long") -
          when(col("is_spam"), ProbGrid.toLong).otherwise(0L)).as("e"))
      val grad = px.join(err, "doc_id").groupBy("f").agg(sum(col("e")).as("g"))
      w = w.join(grad, "f")
        .crossJoin(broadcast(nDf))
        .select(col("f"),
          (col("wm") - floor(col("g") * (BatchLr * 1e6) / (col("nn") * ProbGrid) + 0.5)
            .cast("long")).as("wm"))
      w = graft.api.GraftOps.truncate(w) // truncate the K-round lineage
    }
    (px, w)
  }

  def mlLogregBatch(spark: SparkSession, dir: String): DataFrame = {
    val (_, w) = trainBatch(spark, dir)
    w.select(col("f").as("feature"), round(col("wm") / 1e6, 6).as("weight"))
      .orderBy("feature")
  }

  /** Calibration report (reliability diagram) for the batch-GD model:
    * score the training corpus with the final weights, decile-bucket
    * the grid-quantized probabilities, and compare mean predicted
    * probability to the empirical positive rate per bucket — the
    * standard eval table behind "is the classifier over-confident".
    * Probabilities are exact grid integers, buckets exact integer
    * division, counts exact — one double division at the very edge. */
  /** (is_spam, p) per scored doc — the grid-exact probability table
    * shared by calibration, the PR curve and the AUC. */
  private def scoredGrid(spark: SparkSession, dir: String): DataFrame = {
    val (px, w) = trainBatch(spark, dir)
    px.join(w, "f")
      .groupBy("doc_id")
      .agg(first(col("is_spam")).as("is_spam"), sum(col("wm")).as("sc"))
      .select(col("is_spam"),
        floor((lit(1.0) / (lit(1.0) + exp(-(col("sc") / 1e6)))) * ProbGrid + 0.5)
          .cast("long").as("p"))
  }

  def mlCalibration(spark: SparkSession, dir: String): DataFrame = {
    val g = ProbGrid.toLong
    scoredGrid(spark, dir)
      .withColumn("bucket", floor(col("p") * 10 / (g + 1)).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        round(sum(col("p")) / count(lit(1)) / ProbGrid, 6).as("mean_pred"),
        round(sum(when(col("is_spam"), 1L).otherwise(0L)) / count(lit(1)).cast("double"), 6)
          .as("frac_pos"))
      .orderBy("bucket")
  }

  /** Shared CTE chain: instances → unrolled batch-GD rounds →
    * w$BatchIters final micro weights (consumed by the weight report
    * AND the calibration oracle). */
  /** [[batchCtes]] with the instance LABEL parameterized — the weak-
    * supervision quality classifier trains the identical unrolled
    * chain over heuristic labels. */
  private[operators] val tokenFeaturesSql: String =
    s"list_transform(string_split(text, ' '), " +
      s"t -> CAST(('0x' || substr(md5(t), 1, 8))::BIGINT % $FeatureSpace AS INT))"

  private[operators] def batchCtesFor(labelSql: String,
                                      iters: Int = BatchIters,
                                      featuresSql: String = tokenFeaturesSql): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""s$k AS (SELECT p.doc_id, any_value(p.is_spam) AS is_spam, sum(w.wm) AS sc
                FROM px p JOIN w${k - 1} w USING (f) GROUP BY 1),
          e$k AS (SELECT doc_id,
                       CAST(floor((1.0 / (1.0 + exp(-(sc / 1e6)))) * $ProbGrid + 0.5) AS BIGINT)
                         - CASE WHEN is_spam THEN ${ProbGrid.toLong} ELSE 0 END AS e
                FROM s$k),
          g$k AS (SELECT p.f, sum(e.e) AS g
                FROM px p JOIN e$k e USING (doc_id) GROUP BY 1),
          w$k AS MATERIALIZED (SELECT w.f,
                       w.wm - CAST(floor(g.g * ($BatchLr * 1e6) / (n.nn * $ProbGrid) + 0.5) AS BIGINT) AS wm
                FROM w${k - 1} w JOIN g$k g USING (f), n)"""
    }.mkString(",\n          ")
    s"""inst AS MATERIALIZED (
          SELECT doc_id, $labelSql AS is_spam,
                 list_sort(list_distinct($featuresSql)) AS features
          FROM documents),
          n AS (SELECT count(*) AS nn FROM inst),
          px AS MATERIALIZED (SELECT doc_id, is_spam, unnest(features) AS f FROM inst),
          w0 AS (SELECT DISTINCT f, CAST(0 AS BIGINT) AS wm FROM px),
          $iterCtes"""
  }

  private val batchCtes: String = batchCtesFor("doc_id % 3 = 0")

  private val logregBatchOracle: String =
    s"""WITH $batchCtes
        SELECT f AS feature, round(wm / 1e6, 6) AS weight
        FROM w$BatchIters ORDER BY feature"""

  private val calibrationOracle: String =
    s"""WITH $batchCtes,
          sc AS (SELECT p.doc_id, any_value(p.is_spam) AS is_spam, sum(w.wm) AS sc
                 FROM px p JOIN w$BatchIters w USING (f) GROUP BY 1),
          pr AS (SELECT is_spam,
                        CAST(floor((1.0 / (1.0 + exp(-(sc / 1e6)))) * $ProbGrid + 0.5) AS BIGINT) AS p
                 FROM sc)
        SELECT CAST(floor(p * 10 / ${ProbGrid.toLong + 1}) AS BIGINT) AS bucket,
               count(*) AS n,
               round(sum(p) / count(*) / $ProbGrid, 6) AS mean_pred,
               round(sum(CASE WHEN is_spam THEN 1 ELSE 0 END) / count(*)::DOUBLE, 6) AS frac_pos
        FROM pr GROUP BY 1 ORDER BY bucket"""

  /** Precision/recall curve for the batch-GD model at nine grid
    * thresholds — the eval table behind threshold selection, next to
    * ml_calibration's reliability diagram. "p ≥ k/10" is decided as
    * p·10 ≥ k·G in EXACT integer arithmetic (p is already a grid
    * integer), so every tp/fp/fn count is exact and only the final
    * precision/recall/F1 divisions are (deterministic) doubles.
    * One pass: the scored corpus cross-joins the 9-row threshold
    * spine and aggregates per threshold — counts are map-side
    * combined, the spine broadcasts. */
  def mlPrCurve(spark: SparkSession, dir: String): DataFrame = {
    val g = ProbGrid.toLong
    val spine = spark.range(1, 10).select(col("id").as("k"))
    scoredGrid(spark, dir).crossJoin(broadcast(spine))
      .withColumn("pred", col("p") * 10 >= col("k") * g)
      .groupBy("k")
      .agg(
        sum(when(col("pred") && col("is_spam"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && !col("is_spam"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("is_spam"), 1L).otherwise(0L)).as("fn"))
      .select(col("k"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") === 0, 0.0)
          .otherwise(round(col("tp") / (col("tp") + col("fp")), 6)).as("precision"),
        when(col("tp") + col("fn") === 0, 0.0)
          .otherwise(round(col("tp") / (col("tp") + col("fn")), 6)).as("recall"),
        when(col("tp") * 2 + col("fp") + col("fn") === 0, 0.0)
          .otherwise(round(col("tp") * 2 / (col("tp") * 2 + col("fp") + col("fn")), 6)).as("f1"))
      .orderBy("k")
  }

  private val prCurveOracle: String =
    s"""WITH $batchCtes,
          sc AS (SELECT p.doc_id, any_value(p.is_spam) AS is_spam, sum(w.wm) AS sc
                 FROM px p JOIN w$BatchIters w USING (f) GROUP BY 1),
          pr AS (SELECT is_spam,
                        CAST(floor((1.0 / (1.0 + exp(-(sc / 1e6)))) * $ProbGrid + 0.5) AS BIGINT) AS p
                 FROM sc),
          ks AS (SELECT unnest(generate_series(1, 9)) AS k),
          agg AS (SELECT ks.k,
                         sum(CASE WHEN pr.p * 10 >= ks.k * ${ProbGrid.toLong} AND pr.is_spam THEN 1 ELSE 0 END)::BIGINT AS tp,
                         sum(CASE WHEN pr.p * 10 >= ks.k * ${ProbGrid.toLong} AND NOT pr.is_spam THEN 1 ELSE 0 END)::BIGINT AS fp,
                         sum(CASE WHEN pr.p * 10 < ks.k * ${ProbGrid.toLong} AND pr.is_spam THEN 1 ELSE 0 END)::BIGINT AS fn
                  FROM pr, ks GROUP BY 1)
        SELECT CAST(k AS BIGINT) AS k, tp, fp, fn,
               CASE WHEN tp + fp = 0 THEN 0.0 ELSE round(tp / CAST(tp + fp AS DOUBLE), 6) END AS precision,
               CASE WHEN tp + fn = 0 THEN 0.0 ELSE round(tp / CAST(tp + fn AS DOUBLE), 6) END AS recall,
               CASE WHEN tp * 2 + fp + fn = 0 THEN 0.0
                    ELSE round(tp * 2 / CAST(tp * 2 + fp + fn AS DOUBLE), 6) END AS f1
        FROM agg ORDER BY k"""

  /** Decile gains/lift table for the batch-GD model — the campaign-
    * targeting eval next to ml_pr_curve: "score the corpus, contact
    * the top k/10 — what fraction of the positives do you capture,
    * and at what multiple of random?" Deciles are TIE-RESPECTING and
    * computed WITHOUT a global row sort: the decile-k prefix is the
    * smallest DISTINCT-SCORE prefix (descending) whose cumulative
    * row count clears k·N/10 (cross-multiplied integer compare, the
    * q64 weighted-percentile discipline), so every count is exact
    * and only gain/lift pay one rounded double division each.
    * Scale: the cumulative window runs over the distinct-score
    * histogram — bounded by the grid cardinality (2²⁰+1), a CONSTANT
    * independent of corpus size (the mlAuc discipline); totals ride
    * as a broadcast 1-row agg, the 10-row spine broadcasts. */
  def mlLiftCurve(spark: SparkSession, dir: String): DataFrame = {
    val hist = scoredGrid(spark, dir)
      .groupBy("p")
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_spam"), 1L).otherwise(0L)).as("np"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(desc("p"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cw", sum(col("n")).over(w))
      .withColumn("cp", sum(col("np")).over(w))
    val tot = hist.agg(sum(col("n")).as("nn"), sum(col("np")).as("pp"))
    val spine = spark.range(1, 11).select(col("id").as("decile"))
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(spine))
      .where(col("cw") * 10 >= col("decile") * col("nn"))
      .groupBy("decile")
      .agg(min(col("cw")).as("n_taken"), min(col("cp")).as("pos_taken"),
        max(col("nn")).as("nn"), max(col("pp")).as("pp"))
      .select(col("decile"), col("n_taken"), col("pos_taken"),
        round(col("pos_taken") / col("pp").cast("double"), 6).as("gain"),
        round((col("pos_taken") * col("nn")).cast("double") /
          (col("n_taken") * col("pp")).cast("double"), 6).as("lift"))
      .orderBy("decile")
  }

  private val liftCurveOracle: String =
    s"""WITH $batchCtes,
          sc AS (SELECT p.doc_id, any_value(p.is_spam) AS is_spam, sum(w.wm) AS sc
                 FROM px p JOIN w$BatchIters w USING (f) GROUP BY 1),
          pr AS (SELECT is_spam,
                        CAST(floor((1.0 / (1.0 + exp(-(sc / 1e6)))) * $ProbGrid + 0.5) AS BIGINT) AS p
                 FROM sc),
          hist AS (SELECT p, count(*)::BIGINT AS n,
                          sum(CASE WHEN is_spam THEN 1 ELSE 0 END)::BIGINT AS np
                   FROM pr GROUP BY 1),
          cum AS (SELECT p,
                         sum(n) OVER (ORDER BY p DESC ROWS UNBOUNDED PRECEDING) AS cw,
                         sum(np) OVER (ORDER BY p DESC ROWS UNBOUNDED PRECEDING) AS cp
                  FROM hist),
          tot AS (SELECT sum(n) AS nn, sum(np) AS pp FROM hist),
          ks AS (SELECT unnest(generate_series(1, 10)) AS decile),
          agg AS (SELECT ks.decile,
                         min(c.cw) AS n_taken, min(c.cp) AS pos_taken,
                         max(t.nn) AS nn, max(t.pp) AS pp
                  FROM cum c, tot t, ks
                  WHERE c.cw * 10 >= ks.decile * t.nn GROUP BY 1)
        SELECT CAST(decile AS BIGINT) AS decile,
               CAST(n_taken AS BIGINT) AS n_taken,
               CAST(pos_taken AS BIGINT) AS pos_taken,
               round(pos_taken / CAST(pp AS DOUBLE), 6) AS gain,
               round(CAST(pos_taken * nn AS DOUBLE) / CAST(n_taken * pp AS DOUBLE), 6) AS lift
        FROM agg ORDER BY decile"""

  /** Cohen's kappa of the NB classifier against ground truth —
    * CHANCE-CORRECTED accuracy, the readout raw accuracy hides on
    * imbalanced labels: at sf0.1 NB collapses to the majority class,
    * accuracy still reads 0.667, and κ = 0 exposes exactly that (at
    * sf0.01 the model carries real signal and κ > 0). The 2×2 table
    * (a,b,c,d) is exact integer counts from joining truth with the
    * prediction frame on doc_id; po/pe/κ are ONE fixed-operand-order
    * double expression each, rounded 6dp; the pe=1 degenerate case
    * (truth and prediction the same constant, exactly a=n or d=n)
    * takes the κ=1 convention instead of 0/0.
    * Scale: the prediction chain is the existing scan-bound NB plan;
    * the join is narrow (doc_id, bool)², the agg one map-side-
    * combined pass. */
  def mlKappa(spark: SparkSession, dir: String): DataFrame = {
    val p1 = Tables.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") % 3 === 0).as("p1"))
    val p2 = nbApply(spark, dir).select(col("doc_id"), col("predicted").as("p2"))
    p1.join(p2, "doc_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("p1") && col("p2"), 1L).otherwise(0L)).as("a"),
        sum(when(col("p1") && !col("p2"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("p1") && col("p2"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("p1") && !col("p2"), 1L).otherwise(0L)).as("d"))
      .select(col("n"), col("a"), col("b"), col("c"), col("d"),
        expr("round(CAST(a + d AS DOUBLE) / n, 6)").as("agree_rate"),
        // pe = 1 is tested EXACTLY on the integer identity
        // (a+b)(a+c) + (c+d)(b+d) = n² (covers every degenerate
        // margin combination, not just a=n / d=n) — kappa is 0/0
        // there; the convention is 1.0 (perfect chance agreement,
        // however vacuous)
        expr("""CASE WHEN (a + b) * (a + c) + (c + d) * (b + d) = n * n THEN 1.0 ELSE
                round((CAST(a + d AS DOUBLE) / n
                 - (CAST(a + b AS DOUBLE) * (a + c) + CAST(c + d AS DOUBLE) * (b + d))
                   / (CAST(n AS DOUBLE) * n))
                / (1.0 - (CAST(a + b AS DOUBLE) * (a + c) + CAST(c + d AS DOUBLE) * (b + d))
                   / (CAST(n AS DOUBLE) * n)), 6) END""").as("kappa"))
  }

  private val kappaOracle: String =
    s"""WITH $nbModelSql,
        truth AS (SELECT doc_id, doc_id % 3 = 0 AS p1 FROM documents),
        priors AS (SELECT ln(count(*) FILTER (doc_id % 3 = 0) / CAST(count(*) AS DOUBLE)) AS lp_spam,
                          ln(count(*) FILTER (doc_id % 3 <> 0) / CAST(count(*) AS DOUBLE)) AS lp_ham
                   FROM documents),
        nbsc AS (SELECT tok.doc_id, sum(mo.ll_spam) AS ss, sum(mo.ll_ham) AS sh
                 FROM tok JOIN model mo ON tok.t = mo.t GROUP BY 1),
        nb AS (SELECT s.doc_id, (s.ss + p.lp_spam > s.sh + p.lp_ham) AS p2
               FROM nbsc s, priors p),
        pair AS (SELECT p.p1, q.p2 FROM truth p JOIN nb q USING (doc_id)),
        t AS (SELECT count(*)::BIGINT AS n,
                     sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END)::BIGINT AS a,
                     sum(CASE WHEN p1 AND NOT p2 THEN 1 ELSE 0 END)::BIGINT AS b,
                     sum(CASE WHEN NOT p1 AND p2 THEN 1 ELSE 0 END)::BIGINT AS c,
                     sum(CASE WHEN NOT p1 AND NOT p2 THEN 1 ELSE 0 END)::BIGINT AS d
              FROM pair)
        SELECT n, a, b, c, d,
               round(CAST(a + d AS DOUBLE) / n, 6) AS agree_rate,
               CASE WHEN (a + b) * (a + c) + (c + d) * (b + d) = n * n THEN 1.0 ELSE
               round((CAST(a + d AS DOUBLE) / n
                 - (CAST(a + b AS DOUBLE) * (a + c) + CAST(c + d AS DOUBLE) * (b + d))
                   / (CAST(n AS DOUBLE) * n))
                / (1.0 - (CAST(a + b AS DOUBLE) * (a + c) + CAST(c + d AS DOUBLE) * (b + d))
                   / (CAST(n AS DOUBLE) * n)), 6) END AS kappa
        FROM t"""

  /** Per-SOURCE confusion slices of the NB classifier — the eval that
    * finds WHERE a model fails, not just whether: the same exact 2×2
    * agreement counts as [[mlKappa]] but grouped by document source,
    * with per-slice accuracy. Slice-based evaluation is the
    * production follow-up to every aggregate metric (a model can hold
    * 0.9 overall while cratering on one feed).
    * Scale: the NB chain is scan-bound; the extra cost is one narrow
    * (doc_id, source) join and a |sources|-row agg. */
  def mlConfusionBySource(spark: SparkSession, dir: String): DataFrame = {
    val p1 = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), (col("doc_id") % 3 === 0).as("p1"))
    val p2 = nbApply(spark, dir).select(col("doc_id"), col("predicted").as("p2"))
    p1.join(p2, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(when(col("p1") && col("p2"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("p1") && !col("p2"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("p1") && col("p2"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("p1") && !col("p2"), 1L).otherwise(0L)).as("tn"))
      .select(col("source"), col("n"), col("tp"), col("fn"), col("fp"), col("tn"),
        round((col("tp") + col("tn")).cast("double") / col("n"), 6).as("accuracy"))
      .orderBy("source")
  }

  private val confusionBySourceOracle: String =
    s"""WITH $nbModelSql,
        truth AS (SELECT doc_id, source, doc_id % 3 = 0 AS p1 FROM documents),
        priors AS (SELECT ln(count(*) FILTER (doc_id % 3 = 0) / CAST(count(*) AS DOUBLE)) AS lp_spam,
                          ln(count(*) FILTER (doc_id % 3 <> 0) / CAST(count(*) AS DOUBLE)) AS lp_ham
                   FROM documents),
        nbsc AS (SELECT tok.doc_id, sum(mo.ll_spam) AS ss, sum(mo.ll_ham) AS sh
                 FROM tok JOIN model mo ON tok.t = mo.t GROUP BY 1),
        nb AS (SELECT s.doc_id, (s.ss + p.lp_spam > s.sh + p.lp_ham) AS p2
               FROM nbsc s, priors p),
        pair AS (SELECT t.source, t.p1, q.p2 FROM truth t JOIN nb q USING (doc_id))
        SELECT source, count(*)::BIGINT AS n,
               sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END)::BIGINT AS tp,
               sum(CASE WHEN p1 AND NOT p2 THEN 1 ELSE 0 END)::BIGINT AS fn,
               sum(CASE WHEN NOT p1 AND p2 THEN 1 ELSE 0 END)::BIGINT AS fp,
               sum(CASE WHEN NOT p1 AND NOT p2 THEN 1 ELSE 0 END)::BIGINT AS tn,
               round(CAST(sum(CASE WHEN p1 = p2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS accuracy
        FROM pair GROUP BY 1 ORDER BY source"""

  /** Matthews correlation coefficient of the NB classifier vs ground
    * truth — kappa's sibling on the SAME 2×2 agreement table, but
    * symmetric in the four cells (the binary-case Pearson φ): MCC =
    * (a·d − b·c) / √(a+b)√(a+c)√(c+d)√(b+d). Robust where accuracy
    * and even F1 mislead on imbalance (F1 ignores d entirely). The
    * numerator is EXACT int64 (each product ≤ n²; safe to n ≈ 3·10⁹
    * — past that the cells themselves get scaled); the denominator is
    * four √s multiplied left-to-right — IEEE-754 REQUIRES √ correctly
    * rounded (unlike exp/ln), so the fixed-operand-order double
    * expression is bit-identical cross-engine, no grid needed. A
    * degenerate margin (any factor 0) takes the MCC=0 convention.
    * Scale: identical to [[mlKappa]] — the scan-bound NB chain, one
    * narrow doc_id join, one map-side-combined agg. */
  def mlMcc(spark: SparkSession, dir: String): DataFrame = {
    val p1 = Tables.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") % 3 === 0).as("p1"))
    val p2 = nbApply(spark, dir).select(col("doc_id"), col("predicted").as("p2"))
    p1.join(p2, "doc_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("p1") && col("p2"), 1L).otherwise(0L)).as("a"),
        sum(when(col("p1") && !col("p2"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("p1") && col("p2"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("p1") && !col("p2"), 1L).otherwise(0L)).as("d"))
      .select(col("n"), col("a"), col("b"), col("c"), col("d"),
        expr(mccFormula).as("mcc"))
  }

  /** One formula text both engines evaluate verbatim (the reg2Formula
    * discipline): exact integer determinant over the √-product margin. */
  private val mccFormula: String =
    """CASE WHEN a + b = 0 OR a + c = 0 OR c + d = 0 OR b + d = 0 THEN 0.0
       ELSE round(CAST(a * d - b * c AS DOUBLE) /
                  (sqrt(CAST(a + b AS DOUBLE)) * sqrt(CAST(a + c AS DOUBLE))
                   * sqrt(CAST(c + d AS DOUBLE)) * sqrt(CAST(b + d AS DOUBLE))), 6) END"""

  private val mccOracle: String =
    s"""WITH $nbModelSql,
        truth AS (SELECT doc_id, doc_id % 3 = 0 AS p1 FROM documents),
        priors AS (SELECT ln(count(*) FILTER (doc_id % 3 = 0) / CAST(count(*) AS DOUBLE)) AS lp_spam,
                          ln(count(*) FILTER (doc_id % 3 <> 0) / CAST(count(*) AS DOUBLE)) AS lp_ham
                   FROM documents),
        nbsc AS (SELECT tok.doc_id, sum(mo.ll_spam) AS ss, sum(mo.ll_ham) AS sh
                 FROM tok JOIN model mo ON tok.t = mo.t GROUP BY 1),
        nb AS (SELECT s.doc_id, (s.ss + p.lp_spam > s.sh + p.lp_ham) AS p2
               FROM nbsc s, priors p),
        pair AS (SELECT p.p1, q.p2 FROM truth p JOIN nb q USING (doc_id)),
        t AS (SELECT count(*)::BIGINT AS n,
                     sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END)::BIGINT AS a,
                     sum(CASE WHEN p1 AND NOT p2 THEN 1 ELSE 0 END)::BIGINT AS b,
                     sum(CASE WHEN NOT p1 AND p2 THEN 1 ELSE 0 END)::BIGINT AS c,
                     sum(CASE WHEN NOT p1 AND NOT p2 THEN 1 ELSE 0 END)::BIGINT AS d
              FROM pair)
        SELECT n, a, b, c, d,
               $mccFormula AS mcc
        FROM t"""

  /** Kolmogorov–Smirnov statistic of the batch-GD model — the
    * separation readout credit-scoring pipelines report next to AUC:
    * KS = max over score thresholds of |CDF⁺(s) − CDF⁻(s)|, the
    * largest vertical gap between the positive- and negative-class
    * score distributions, plus the threshold where it happens (the
    * natural operating point). The argmax is decided ENTIRELY in
    * exact integer arithmetic — maximize |cpos·n⁻ − cneg·n⁺| in
    * decimal(38) (cross-multiplied, no per-row division), ties → the
    * smallest grid score — so both engines pick the identical row;
    * only the reported ks/at_p pay one rounded division each.
    * Scale: the cumulative window runs over DISTINCT grid scores —
    * bounded by the 2²⁰+1 grid cardinality, a CONSTANT independent of
    * corpus size (the mlAuc discipline); the argmax is a distributed
    * top-1 (TakeOrderedAndProject), never a global sort. */
  def mlKsStat(spark: SparkSession, dir: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val byScore = scoredGrid(spark, dir)
      .groupBy("p")
      .agg(sum(when(col("is_spam"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("is_spam"), 1L).otherwise(0L)).as("nn"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("p")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = byScore.agg(sum(col("np")).as("npos"), sum(col("nn")).as("nneg"))
    byScore
      .withColumn("cpos", sum(col("np")).over(w))
      .withColumn("cneg", sum(col("nn")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("num",
        abs(dec(col("cpos")) * dec(col("nneg")) - dec(col("cneg")) * dec(col("npos"))))
      .orderBy(desc("num"), asc("p")).limit(1)
      .select(col("npos").as("n_pos"), col("nneg").as("n_neg"),
        round(col("p") / ProbGrid, 6).as("at_p"),
        round(col("num").cast("double") /
          (col("npos").cast("double") * col("nneg").cast("double")), 8).as("ks"))
  }

  private val ksOracle: String =
    s"""WITH $batchCtes,
          sc AS (SELECT p.doc_id, any_value(p.is_spam) AS is_spam, sum(w.wm) AS sc
                 FROM px p JOIN w$BatchIters w USING (f) GROUP BY 1),
          pr AS (SELECT is_spam,
                        CAST(floor((1.0 / (1.0 + exp(-(sc / 1e6)))) * $ProbGrid + 0.5) AS BIGINT) AS p
                 FROM sc),
          hist AS (SELECT p,
                          sum(CASE WHEN is_spam THEN 1 ELSE 0 END)::BIGINT AS np,
                          sum(CASE WHEN is_spam THEN 0 ELSE 1 END)::BIGINT AS nn
                   FROM pr GROUP BY 1),
          tot AS (SELECT sum(np)::BIGINT AS npos, sum(nn)::BIGINT AS nneg FROM hist),
          cum AS (SELECT p,
                         sum(np) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) AS cpos,
                         sum(nn) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) AS cneg
                  FROM hist)
        SELECT t.npos AS n_pos, t.nneg AS n_neg,
               round(c.p / $ProbGrid, 6) AS at_p,
               round(CAST(abs(c.cpos::HUGEINT * t.nneg - c.cneg::HUGEINT * t.npos) AS DOUBLE)
                     / (CAST(t.npos AS DOUBLE) * CAST(t.nneg AS DOUBLE)), 8) AS ks
        FROM cum c, tot t
        ORDER BY abs(c.cpos::HUGEINT * t.nneg - c.cneg::HUGEINT * t.npos) DESC, c.p
        LIMIT 1"""

  /** χ² FEATURE SELECTION against the spam label — the statistic
    * behind "which tokens carry label signal", applied per TOKEN over
    * document-level presence (a 2×2 per token: spam/ham × contains/
    * not). Reuses text_chi2's formula discipline: the determinant
    * a·d − b·c is EXACT int64, one fixed-operand-order double
    * division, 6-dp round; tokens present in EVERY document (c+d = 0)
    * take χ² = 0 (no discriminating power, degenerate margin). Top
    * [[Chi2SelectK]] by (χ² desc, token asc) — the rounded χ² values
    * are bit-identical cross-engine (shared formula text), so the
    * ranking replays exactly.
    * Scale: shuffle ∝ distinct (doc, token) postings then ∝ vocab;
    * label totals broadcast as a 1-row agg; the top-k is a
    * distributed TakeOrderedAndProject over the vocab relation —
    * NO global sort materializes, no single-partition window. */
  val Chi2SelectK = 50
  val Chi2MinDf = 5L
  def mlChi2Select(spark: SparkSession, dir: String): DataFrame = {
    val pres = Tables.documents(spark, dir)
      .select((col("doc_id") % 3 === 0).as("is_spam"),
        explode(array_distinct(split(col("text"), " "))).as("t"))
      .filter(col("t") =!= "")
      .groupBy("t")
      .agg(sum(when(col("is_spam"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("is_spam"), 1L).otherwise(0L)).as("b"))
      .filter(col("a") + col("b") >= Chi2MinDf)
    val tot = Tables.documents(spark, dir)
      .agg(sum(when(col("doc_id") % 3 === 0, 1L).otherwise(0L)).as("s"),
        sum(when(col("doc_id") % 3 =!= 0, 1L).otherwise(0L)).as("h"))
    val top = pres.crossJoin(broadcast(tot))
      .withColumn("det", col("a") * (col("h") - col("b")) - col("b") * (col("s") - col("a")))
      .withColumn("chi2", expr(
        """CASE WHEN s + h - a - b = 0 THEN 0.0
           ELSE round(CAST(s + h AS DOUBLE) * det * det /
                      (CAST(a + b AS DOUBLE) * (s + h - a - b) * s * h), 6) END"""))
      .orderBy(desc("chi2"), asc("t")).limit(Chi2SelectK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("chi2"), asc("t"))
    top.withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("rnk"), col("t").as("token"),
        col("a").as("spam_df"), col("b").as("ham_df"), col("chi2"))
      .orderBy("rnk")
  }

  private val chi2SelectOracle: String =
    s"""WITH pres AS (SELECT t,
                 sum(CASE WHEN spam THEN 1 ELSE 0 END)::BIGINT AS a,
                 sum(CASE WHEN spam THEN 0 ELSE 1 END)::BIGINT AS b
          FROM (SELECT doc_id % 3 = 0 AS spam,
                       unnest(list_distinct(string_split(text, ' '))) AS t
                FROM documents)
          WHERE t <> '' GROUP BY 1 HAVING count(*) >= $Chi2MinDf),
        tot AS (SELECT sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS s,
                       sum(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END)::BIGINT AS h
                FROM documents),
        sc AS (SELECT p.t, p.a, p.b,
                      p.a * (t.h - p.b) - p.b * (t.s - p.a) AS det,
                      t.s, t.h
               FROM pres p, tot t),
        ch AS (SELECT t, a, b,
                      CASE WHEN s + h - a - b = 0 THEN 0.0
                           ELSE round(CAST(s + h AS DOUBLE) * det * det /
                                      (CAST(a + b AS DOUBLE) * (s + h - a - b) * s * h), 6) END AS chi2
               FROM sc)
        SELECT row_number() OVER (ORDER BY chi2 DESC, t) AS rnk,
               t AS token, a AS spam_df, b AS ham_df, chi2
        FROM ch ORDER BY chi2 DESC, t LIMIT $Chi2SelectK"""

  /** Exact ROC-AUC by the rank statistic: over distinct grid scores
    * ascending, AUC·2n⁺n⁻ = Σ_s (2·n⁺(s)·negBelow(s) + n⁺(s)·n⁻(s)) —
    * concordant pairs plus half-credit ties, ALL in exact integer
    * arithmetic (decimal(38) accumulators: n⁺·n⁻ outgrows int64 at
    * corpus scale); ONE final division. The cumulative window runs
    * over DISTINCT scores — bounded by the 2²⁰+1 grid cardinality, a
    * CONSTANT independent of corpus size, so the single-partition
    * window never grows with the data. */
  def mlAuc(spark: SparkSession, dir: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val byScore = scoredGrid(spark, dir)
      .groupBy("p")
      .agg(sum(when(col("is_spam"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("is_spam"), 1L).otherwise(0L)).as("nn"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("p")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    byScore
      .withColumn("neg_below", coalesce(sum(col("nn")).over(w), lit(0L)))
      .agg(sum(dec(col("np"))).as("npos"), sum(dec(col("nn"))).as("nneg"),
        sum(dec(col("np")) * dec(col("neg_below")) * 2 + dec(col("np")) * dec(col("nn")))
          .as("num2"))
      .select(col("npos").cast("long").as("n_pos"), col("nneg").cast("long").as("n_neg"),
        round(col("num2").cast("double") /
          (lit(2.0) * col("npos").cast("double") * col("nneg").cast("double")), 8).as("auc"))
  }

  /** Learning curve — exact ROC-AUC after EVERY batch-GD iteration
    * (the "is training converging" artifact next to the final-model
    * evals): one inlined training loop whose per-round weight tables
    * are checkpoint-truncated, each scored and ranked by the mlAuc
    * exact integer statistic. The oracle pays nothing extra: the
    * shared unrolled chain already exposes w1..w$BatchIters as CTEs.
    * Scale: [[BatchIters]] training rounds + [[BatchIters]] scoring
    * passes — each the verified mlAuc shape; the distinct-score
    * window stays grid-bounded at every iteration. */
  def mlLearningCurve(spark: SparkSession, dir: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val inst = graft.api.GraftOps.truncate(instances(spark, dir))
    val px = graft.api.GraftOps.truncate(
      inst.select(col("doc_id"), col("is_spam"), explode(col("features")).as("f")))
    val nDf = inst.agg(count(lit(1)).as("nn"))
    var w = graft.api.GraftOps.truncate(
      px.select("f").distinct().withColumn("wm", lit(0L)))
    val curves = (1 to BatchIters).map { k =>
      val scored = px.join(w, "f")
        .groupBy("doc_id")
        .agg(first(col("is_spam")).as("is_spam"), sum(col("wm")).as("sc"))
      val err = scored.select(col("doc_id"),
        (floor((lit(1.0) / (lit(1.0) + exp(-(col("sc") / 1e6)))) * ProbGrid + 0.5)
          .cast("long") -
          when(col("is_spam"), ProbGrid.toLong).otherwise(0L)).as("e"))
      val grad = px.join(err, "doc_id").groupBy("f").agg(sum(col("e")).as("g"))
      w = graft.api.GraftOps.truncate(
        w.join(grad, "f").crossJoin(broadcast(nDf))
          .select(col("f"),
            (col("wm") - floor(col("g") * (BatchLr * 1e6) / (col("nn") * ProbGrid) + 0.5)
              .cast("long")).as("wm")))
      val byScore = px.join(w, "f")
        .groupBy("doc_id")
        .agg(first(col("is_spam")).as("is_spam"), sum(col("wm")).as("sc"))
        .select(col("is_spam"),
          floor((lit(1.0) / (lit(1.0) + exp(-(col("sc") / 1e6)))) * ProbGrid + 0.5)
            .cast("long").as("p"))
        .groupBy("p")
        .agg(sum(when(col("is_spam"), 1L).otherwise(0L)).as("np"),
          sum(when(!col("is_spam"), 1L).otherwise(0L)).as("nn"))
      val wd = org.apache.spark.sql.expressions.Window.orderBy("p")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      byScore
        .withColumn("neg_below", coalesce(sum(col("nn")).over(wd), lit(0L)))
        .agg(sum(dec(col("np"))).as("npos"), sum(dec(col("nn"))).as("nneg"),
          sum(dec(col("np")) * dec(col("neg_below")) * 2 + dec(col("np")) * dec(col("nn")))
            .as("num2"))
        .select(lit(k.toLong).as("iter"),
          round(col("num2").cast("double") /
            (lit(2.0) * col("npos").cast("double") * col("nneg").cast("double")), 8)
            .as("auc"))
    }
    curves.reduce(_ unionAll _).orderBy("iter")
  }

  private val learningCurveOracle: String = {
    val rounds = (1 to BatchIters).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS iter, round(CAST(num2 AS DOUBLE) /
               (2.0 * CAST(npos AS DOUBLE) * CAST(nneg AS DOUBLE)), 8) AS auc
          FROM (SELECT sum(np) AS npos, sum(nn) AS nneg,
                       sum(np::HUGEINT * neg_below * 2 + np::HUGEINT * nn) AS num2
                FROM (SELECT p, np, nn,
                             coalesce(sum(nn) OVER (ORDER BY p
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
                      FROM (SELECT p,
                                   sum(CASE WHEN is_spam THEN 1 ELSE 0 END)::BIGINT AS np,
                                   sum(CASE WHEN is_spam THEN 0 ELSE 1 END)::BIGINT AS nn
                            FROM (SELECT any_value(px.is_spam) AS is_spam,
                                         CAST(floor((1.0 / (1.0 + exp(-(sum(w$k.wm) / 1e6))))
                                                    * $ProbGrid + 0.5) AS BIGINT) AS p
                                  FROM px JOIN w$k USING (f) GROUP BY px.doc_id)
                            GROUP BY 1)))"""
    }.mkString("\n        UNION ALL ")
    s"""WITH $batchCtes
        $rounds
        ORDER BY iter"""
  }

  private val aucOracle: String =
    s"""WITH $batchCtes,
          sc AS (SELECT p.doc_id, any_value(p.is_spam) AS is_spam, sum(w.wm) AS sc
                 FROM px p JOIN w$BatchIters w USING (f) GROUP BY 1),
          pr AS (SELECT is_spam,
                        CAST(floor((1.0 / (1.0 + exp(-(sc / 1e6)))) * $ProbGrid + 0.5) AS BIGINT) AS p
                 FROM sc),
          bys AS (SELECT p,
                         sum(CASE WHEN is_spam THEN 1 ELSE 0 END)::BIGINT AS np,
                         sum(CASE WHEN is_spam THEN 0 ELSE 1 END)::BIGINT AS nn
                  FROM pr GROUP BY 1),
          cum AS (SELECT p, np, nn,
                         coalesce(sum(nn) OVER (ORDER BY p
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
                  FROM bys),
          agg AS (SELECT sum(np) AS npos, sum(nn) AS nneg,
                         sum(np::HUGEINT * neg_below * 2 + np::HUGEINT * nn) AS num2
                  FROM cum)
        SELECT CAST(npos AS BIGINT) AS n_pos, CAST(nneg AS BIGINT) AS n_neg,
               round(CAST(num2 AS DOUBLE) /
                     (2.0 * CAST(npos AS DOUBLE) * CAST(nneg AS DOUBLE)), 8) AS auc
        FROM agg"""

  val defs: Seq[QueryDef] = Seq(
    QueryDef("ml_auc", mlAuc, Some(aucOracle)),
    QueryDef("ml_ks_stat", mlKsStat, Some(ksOracle)),
    QueryDef("ml_learning_curve", mlLearningCurve, Some(learningCurveOracle)),
    QueryDef("ml_chi2_select", mlChi2Select, Some(chi2SelectOracle)),
    QueryDef("ml_pr_curve", mlPrCurve, Some(prCurveOracle)),
    QueryDef("ml_lift_curve", mlLiftCurve, Some(liftCurveOracle)),
    QueryDef("ml_kappa", mlKappa, Some(kappaOracle)),
    QueryDef("ml_mcc", mlMcc, Some(mccOracle)),
    QueryDef("ml_confusion_by_source", mlConfusionBySource, Some(confusionBySourceOracle)),
    QueryDef("ml_logreg_batch", mlLogregBatch, Some(logregBatchOracle)),
    QueryDef("ml_calibration", mlCalibration, Some(calibrationOracle)),
    QueryDef("spam_train", train, Some(trainOracle(SerialOrder))),
    QueryDef("ml_linear_reg", mlLinearReg, Some(linearRegOracle)),
    QueryDef("spam_train_shuffled", trainShuffled, Some(trainOracle(ShuffledOrder))),
    QueryDef("spam_train_avg", (s: SparkSession, d: String) => trainAveraged(s, d),
      Some(avgOracle(8))),
    QueryDef("spam_apply", apply_, Some(applyOracle)),
    QueryDef("spam_ensemble", ensemble, Some(ensembleOracle(3))),
    QueryDef("spam_nb_train", nbTrain, Some(
      s"""WITH $nbModelSql
          SELECT t, ll_spam, ll_ham FROM model ORDER BY t""")),
    QueryDef("spam_nb_apply", nbApply, Some(
      s"""WITH $nbModelSql,
           docs AS (SELECT doc_id, doc_id % 3 = 0 AS is_spam FROM documents),
           priors AS (SELECT ln(count(*) FILTER (is_spam) / CAST(count(*) AS DOUBLE)) AS lp_spam,
                             ln(count(*) FILTER (NOT is_spam) / CAST(count(*) AS DOUBLE)) AS lp_ham
                      FROM docs),
           scores AS (SELECT tok.doc_id, sum(m.ll_spam) AS ss, sum(m.ll_ham) AS sh
                      FROM tok JOIN model m ON tok.t = m.t GROUP BY 1)
          SELECT d.doc_id, d.is_spam,
                 (s.ss + p.lp_spam > s.sh + p.lp_ham) AS predicted,
                 (s.ss + p.lp_spam > s.sh + p.lp_ham) = d.is_spam AS correct
          FROM scores s JOIN docs d ON s.doc_id = d.doc_id, priors p
          ORDER BY d.doc_id""")),
  )
}
