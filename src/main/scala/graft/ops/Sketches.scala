package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-aggregation sketches — the pre-aggregation family that
  * makes "how many distinct users did X over an arbitrary date range"
  * answerable at 100 TB without rescanning raw events.
  *
  * The 100 TB shape is the ROLLUP ARTIFACT, not the one-shot sketch
  * (q50 already gates `approx_count_distinct` end to end): a nightly
  * job folds each day's events into one mergeable HLL sketch per
  * (day, event_type) — a few KB per group — and every later range
  * query UNIONS the covered days' sketches instead of touching the
  * raw table. Merge is associative and lossless for HLL (register-wise
  * max), so serving cost ∝ days in range × groups, never ∝ events.
  * The artifact follows the same lifecycle discipline as the BM25/IVF
  * indexes (q127/q133): day-partitioned parquet, incremental day
  * append with a replay guard, served by partition-pruned scans.
  *
  * Verdicts follow the q50/q55/q130 gate pattern: the output relation
  * carries the EXACT answer plus a `within_bound` flag computed
  * against the sketch estimate, so the oracle is plain SQL with a
  * constant 1 — a sketch drifting out of bound flips the flag and
  * fails the hash compare rather than needing a sketch-for-sketch
  * cross-engine comparison (DuckDB's HLL internals differ).
  */
object Sketches {

  /** lgConfigK = 14: 16 Ki registers, ~0.6 % relative standard error —
    * the verdict bound (5 % relative) sits ~8 sigma out, and below
    * ~10 k distincts the datasketches HLL is still in its exact
    * (coupon-list) modes anyway. */
  private val DefaultLgK = 14

  /** One HLL sketch, one theta sketch, one frequency (heavy-hitters)
    * sketch, one KLL sketch, and the exact event count per
    * (day, event_type). The sketch columns are opaque mergeable
    * binaries — the same "typed metadata around an opaque payload"
    * contract as the multimodal columns. Four sketches because they
    * answer different algebra: HLL (smaller, lossless union) serves
    * range-distinct (q148/q149); theta (k smallest hashes) also
    * serves INTERSECTION — retention/overlap (q151) — which HLL
    * cannot express; the LongsSketch answers WHICH items dominate
    * (range heavy hitters, q157); KLL answers range quantiles (q152).
    * n_events rides along exactly (counts are trivially mergeable), so
    * the artifact also serves exact event totals — and doubles as the
    * integrity signal [[repairDays]] checks appends against. */
  private def rollupOf(events: DataFrame, lgK: Int): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(
        hll_sketch_agg(col("user_id"), lgK).as("users_hll"),
        graft.functions.ThetaFunctions.thetaSketchAgg(col("user_id"), lgK).as("users_theta"),
        graft.functions.FreqFunctions.freqSketchAgg(col("user_id"), DefaultFreqMapSize)
          .as("users_freq"),
        graft.functions.KllFunctions.kllSketchAgg(col("value")).as("value_kll"),
        count(lit(1)).as("n_events"))

  /** maxMapSize = 1024 counters per (day, type) frequency sketch: error
    * ≤ 3.5·n_day/1024 per day, additive across a range merge — and the
    * sketch is EXACT (no purges) while a day's per-type distinct user
    * count stays below ~768. A few KB per group either way. */
  private val DefaultFreqMapSize = 1024

  /** Persist the rollup, day-partitioned: a date-range serve prunes to
    * the covered day directories at scan time — the storage-level
    * analog of the BM25 term buckets. */
  def saveDailyRollup(events: DataFrame, outDir: String, lgK: Int = DefaultLgK): Unit =
    rollupOf(events, lgK)
      .repartition(col("day")) // one file per day dir, not one per task
      .write.mode("overwrite").partitionBy("day").parquet(s"$outDir/daily")

  /** Merge a delta batch of NEW days into a persisted rollup — the
    * nightly-ingest shape. Append granularity is the DAY (the rollup's
    * own grain): a replayed merge of an already-rolled-up day is a
    * no-op (anti-join against the artifact's day partition values — a
    * directory listing, no data files read), exactly the
    * postings/PQ replay guard one level up. Partial-day appends are
    * the caller's contract, as with any rollup cadence. Cost ∝ |delta
    * events|: only the delta's day directories are written. */
  def appendDailyDelta(deltaEvents: DataFrame, indexDir: String,
      lgK: Int = DefaultLgK): Unit = {
    val spark = deltaEvents.sparkSession
    // bootstrap: the very first append (streaming ingest starts cold)
    // has no daily dir yet — every delta day is fresh then. A dir that
    // EXISTS but holds no day partition is the same state: retracting
    // the artifact's only day (a repair of a one-day rollup) leaves the
    // bare root, which a parquet read can't infer a schema from
    val dailyPath = new org.apache.hadoop.fs.Path(s"$indexDir/daily")
    val fs = dailyPath.getFileSystem(spark.sessionState.newHadoopConf())
    val guarded =
      if (!hasDayPartitions(fs, dailyPath)) deltaEvents
      else {
        val indexed = dailyOf(spark, indexDir).select("day").distinct()
        deltaEvents
          .withColumn("day", to_date(col("ts")))
          .join(indexed, Seq("day"), "left_anti")
          .drop("day")
      }
    val fresh = rollupOf(guarded, lgK).cache()
    // materialized BEFORE the append: the write's source must not
    // re-list the day partitions it is itself appending to
    fresh.count()
    fresh.repartition(col("day")) // one appended file per touched day
      .write.mode("append").partitionBy("day").parquet(s"$indexDir/daily")
    fresh.unpersist(blocking = false)
  }

  /** Serve distinct-user estimates for arbitrary date ranges from the
    * rollup alone — no raw-events relation in the plan. Each range
    * scans only its day directories (partition pruning) and merges
    * ≤ days × groups sketches with `hll_union_agg`. */
  def distinctUsersFromRollup(spark: SparkSession, indexDir: String,
      ranges: Seq[(Long, String, String)]): DataFrame =
    ranges.map { case (rid, from, until) =>
      dailyOf(spark, indexDir)
        .where(col("day") >= lit(from) && col("day") < lit(until))
        .groupBy("event_type")
        .agg(
          hll_sketch_estimate(hll_union_agg(col("users_hll"))).as("approx_users"),
          sum("n_events").as("n_events"))
        .select(lit(rid).as("range_id"), col("event_type"),
          col("approx_users"), col("n_events"))
    }.reduce(_.unionByName(_))

  /** The two serving ranges of the gates: one mid-stream week and the
    * full stream — both nonempty at every SF (the corpus spans
    * 2024-01-01..2024-01-30 at all scales; density grows, span
    * doesn't). */
  private[graft] val DefaultRanges = Seq(
    (1L, "2024-01-08", "2024-01-15"),
    (2L, "2024-01-01", "2024-02-01"))

  /** The verdict relation both rollup gates share: per (range,
    * event_type), the EXACT distinct users and event count from the
    * raw table, plus `within_bound` = 1 iff the rollup-served estimate
    * tracks the exact answer within max(5 % relative, 5 absolute) AND
    * the rollup's merged n_events is exactly the raw count (the count
    * column must merge losslessly, not approximately). */
  private def verdictOver(spark: SparkSession, dir: String, indexDir: String,
      ranges: Seq[(Long, String, String)]): DataFrame = {
    val approx = distinctUsersFromRollup(spark, indexDir, ranges)
    val ev = Tables.events(spark, dir).withColumn("day", to_date(col("ts")))
    val exact = ranges.map { case (rid, from, until) =>
      ev.where(col("day") >= lit(from) && col("day") < lit(until))
        .groupBy("event_type")
        .agg(
          countDistinct("user_id").as("exact_users"),
          count(lit(1)).as("n_events_exact"))
        .select(lit(rid).as("range_id"), col("event_type"),
          col("exact_users"), col("n_events_exact"))
    }.reduce(_.unionByName(_))
    approx.join(exact, Seq("range_id", "event_type"))
      .select(
        col("range_id"), col("event_type"),
        col("n_events_exact").as("n_events"),
        col("exact_users"),
        when(
          abs(col("approx_users") - col("exact_users")) <=
            greatest(col("exact_users") * lit(0.05), lit(5.0)) &&
            col("n_events") === col("n_events_exact"), 1L)
          .otherwise(0L).as("within_bound"))
      .orderBy("range_id", "event_type")
  }

  /** One rollup artifact per (session, keyed input), built on first
    * use — the same memoization discipline as the persisted indexes. */
  private val rollupArtifacts = new TempArtifacts("graft-hll-rollup")
  private[ops] def rollupDirFor(spark: SparkSession, key: String): Option[String] =
    rollupArtifacts.peek(spark, key)

  /** The session's rollup of the whole events table. */
  private def fullRollup(spark: SparkSession, dir: String): String =
    rollupArtifacts.getOrCreate(spark, s"$dir#rollup-full")(
      saveDailyRollup(Tables.events(spark, dir), _))

  /** A rollup's `daily` store through its memo slot ([[StoreMemo]]). */
  private def dailyOf(spark: SparkSession, indexDir: String): DataFrame =
    StoreMemo.parquet(spark, s"$indexDir/daily")

  /** q148: distinct users per (date range, event_type) served from the
    * persisted daily HLL rollup, verdict-gated against the exact
    * answers from the raw table. */
  def sketchDistinctRollup(spark: SparkSession, dir: String,
      ranges: Seq[(Long, String, String)] = DefaultRanges): DataFrame = {
    verdictOver(spark, dir, fullRollup(spark, dir), ranges)
  }

  /** q149: the INCREMENTALLY BUILT rollup under q148's oracle — base
    * days persisted, the tail days merged via [[appendDailyDelta]],
    * the merged artifact serves. HLL union is lossless (register-wise
    * max), so merged ≡ monolithic exactly, not approximately — the
    * q133/q136/q141 incremental contract extended to the aggregation
    * domain. */
  def sketchRollupIncremental(spark: SparkSession, dir: String,
      splitDay: String = "2024-01-25",
      ranges: Seq[(Long, String, String)] = DefaultRanges): DataFrame = {
    val indexDir = rollupArtifacts.getOrCreate(spark, s"$dir#rollup-incr:$splitDay") { tmp =>
      val ev = Tables.events(spark, dir)
      saveDailyRollup(ev.where(to_date(col("ts")) < lit(splitDay)), tmp)
      appendDailyDelta(ev.where(to_date(col("ts")) >= lit(splitDay)), tmp)
    }
    verdictOver(spark, dir, indexDir, ranges)
  }

  /** q151: weekly retention overlap from the SAME rollup artifact q148
    * serves — per event_type, distinct users active in week A, week B,
    * and BOTH (the theta-intersection answer HLL structurally cannot
    * give). The verdict carries the exact three counts from the raw
    * table plus `within_bound` = 1 iff all three sketch estimates
    * track within max(10 % relative, 10 absolute) — intersection error
    * scales with union/overlap ratio, so its bound is looser than the
    * union gates'. One artifact, many serving shapes: the same
    * economics as the BM25 index's five shapes. */
  def thetaRetention(spark: SparkSession, dir: String,
      weekA: (String, String) = ("2024-01-08", "2024-01-15"),
      weekB: (String, String) = ("2024-01-15", "2024-01-22")): DataFrame = {
    import graft.functions.ThetaFunctions._
    val daily = dailyOf(spark, fullRollup(spark, dir))
    val approx = mergedThetaWeek(daily, weekA._1, weekA._2, "sk_a")
      .join(mergedThetaWeek(daily, weekB._1, weekB._2, "sk_b"), Seq("event_type"))
      .select(col("event_type"),
        thetaEstimate(col("sk_a")).as("approx_a"),
        thetaEstimate(col("sk_b")).as("approx_b"),
        thetaIntersectEstimate(col("sk_a"), col("sk_b")).as("approx_both"))
    val ev = Tables.events(spark, dir).withColumn("day", to_date(col("ts")))
    def users(from: String, until: String) =
      ev.where(col("day") >= lit(from) && col("day") < lit(until))
        .select("event_type", "user_id").distinct()
    val ua = users(weekA._1, weekA._2)
    val ub = users(weekB._1, weekB._2)
    val exact = ua.groupBy("event_type").agg(count(lit(1)).as("exact_a"))
      .join(ub.groupBy("event_type").agg(count(lit(1)).as("exact_b")), Seq("event_type"))
      .join(ua.join(ub, Seq("event_type", "user_id"))
        .groupBy("event_type").agg(count(lit(1)).as("exact_both")),
        Seq("event_type"), "left")
      .na.fill(0L, Seq("exact_both"))
    def ok(approx: org.apache.spark.sql.Column, ex: org.apache.spark.sql.Column) =
      abs(approx - ex) <= greatest(ex * lit(0.10), lit(10.0))
    approx.join(exact, Seq("event_type"))
      .select(col("event_type"), col("exact_a"), col("exact_b"), col("exact_both"),
        when(ok(col("approx_a"), col("exact_a")) &&
          ok(col("approx_b"), col("exact_b")) &&
          ok(col("approx_both"), col("exact_both")), 1L)
          .otherwise(0L).as("within_bound"))
      .orderBy("event_type")
  }

  /** q154: rolling actives (DAU + trailing-7-day WAU per day) served
    * from the rollup — the sliding-window shape over sketches. Each
    * anchor day unions its window's per-(day, type) HLL sketches; the
    * anchor↔window join is rollup-sized (days × days·groups, KBs), so
    * the raw table appears ONLY on the exact-verdict side. DAU and WAU
    * come from the same pass: the window join tags the anchor's own
    * day, and two conditional union-aggs split them. The output day is
    * rendered as a string (cross-engine date hashing stays out of the
    * gate, as with every timestamp gate here). */
  def rollingActives(spark: SparkSession, dir: String,
      windowDays: Int = 7): DataFrame = {
    val daily = dailyOf(spark, fullRollup(spark, dir))
      .select(col("day"), col("users_hll"))
    val anchors = daily.select(col("day").as("anchor")).distinct()
    val windowed = anchors.join(daily,
      col("day") >= date_sub(col("anchor"), windowDays - 1) &&
        col("day") <= col("anchor"))
    val approx = windowed
      .groupBy("anchor")
      .agg(
        hll_sketch_estimate(
          hll_union_agg(when(col("day") === col("anchor"), col("users_hll"))))
          .as("dau_approx"),
        hll_sketch_estimate(hll_union_agg(col("users_hll"))).as("wau_approx"))
    val ev = Tables.events(spark, dir).withColumn("day", to_date(col("ts")))
    val exactDau = ev.groupBy(col("day").as("anchor"))
      .agg(countDistinct("user_id").as("dau_exact"))
    val exactWau = ev
      .join(broadcast(anchors),
        col("day") >= date_sub(col("anchor"), windowDays - 1) &&
          col("day") <= col("anchor"))
      .groupBy("anchor")
      .agg(countDistinct("user_id").as("wau_exact"))
    def ok(a: org.apache.spark.sql.Column, ex: org.apache.spark.sql.Column) =
      abs(a - ex) <= greatest(ex * lit(0.05), lit(5.0))
    approx.join(exactDau, Seq("anchor")).join(exactWau, Seq("anchor"))
      .select(
        date_format(col("anchor"), "yyyy-MM-dd").as("day"),
        col("dau_exact"), col("wau_exact"),
        when(ok(col("dau_approx"), col("dau_exact")) &&
          ok(col("wau_approx"), col("wau_exact")), 1L)
          .otherwise(0L).as("within_bound"))
      .orderBy("day")
  }

  /** One merged theta sketch per event_type over a day range — shared
    * by the q151/q155 set-op serves. */
  private def mergedThetaWeek(daily: DataFrame, from: String, until: String,
      name: String): DataFrame =
    daily.where(col("day") >= lit(from) && col("day") < lit(until))
      .groupBy("event_type")
      .agg(graft.functions.ThetaFunctions.thetaUnionAgg(col("users_theta")).as(name))

  /** q155: weekly churn (users active in week A but NOT in week B) per
    * event_type — theta A\B, the difference completing the set
    * algebra q151's intersection started, off the same rollup
    * artifact. Exact side: anti-join of the two per-type distinct user
    * sets. Same 10 %/10-absolute bound ladder as the intersection
    * (A\B error scales with the same union/result ratio). */
  def thetaChurn(spark: SparkSession, dir: String,
      weekA: (String, String) = ("2024-01-08", "2024-01-15"),
      weekB: (String, String) = ("2024-01-15", "2024-01-22")): DataFrame = {
    import graft.functions.ThetaFunctions._
    val daily = dailyOf(spark, fullRollup(spark, dir))
    val approx = mergedThetaWeek(daily, weekA._1, weekA._2, "sk_a")
      .join(mergedThetaWeek(daily, weekB._1, weekB._2, "sk_b"), Seq("event_type"))
      .select(col("event_type"),
        thetaEstimate(col("sk_a")).as("approx_a"),
        thetaDifferenceEstimate(col("sk_a"), col("sk_b")).as("approx_churned"))
    val ev = Tables.events(spark, dir).withColumn("day", to_date(col("ts")))
    def users(from: String, until: String) =
      ev.where(col("day") >= lit(from) && col("day") < lit(until))
        .select("event_type", "user_id").distinct()
    val ua = users(weekA._1, weekA._2)
    val ub = users(weekB._1, weekB._2)
    val exact = ua.groupBy("event_type").agg(count(lit(1)).as("exact_a"))
      .join(ua.join(ub, Seq("event_type", "user_id"), "left_anti")
        .groupBy("event_type").agg(count(lit(1)).as("exact_churned")),
        Seq("event_type"), "left")
      .na.fill(0L, Seq("exact_churned"))
    def ok(a: org.apache.spark.sql.Column, ex: org.apache.spark.sql.Column) =
      abs(a - ex) <= greatest(ex * lit(0.10), lit(10.0))
    approx.join(exact, Seq("event_type"))
      .select(col("event_type"), col("exact_a"), col("exact_churned"),
        when(ok(col("approx_a"), col("exact_a")) &&
          ok(col("approx_churned"), col("exact_churned")), 1L)
          .otherwise(0L).as("within_bound"))
      .orderBy("event_type")
  }

  /** Retire days from the rollup — the correction half of the
    * lifecycle (re-crawled days, late-arriving data, a bad ingest).
    * Sketches cannot subtract, so the retraction unit is the
    * artifact's own grain: the day partition directory is DELETED
    * (cost ∝ retracted days, nothing else rewritten — the same
    * touched-partitions-only economics as the postings/ANN
    * compactions) and the corrected day re-enters through the normal
    * guarded append. Idempotent: deleting an absent day is a no-op. */
  def retractDays(spark: SparkSession, indexDir: String, days: Seq[String]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$indexDir/daily")
    val fs = root.getFileSystem(conf)
    days.foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$indexDir/daily/day=$d"), true)
    }
  }

  /** An artifact root can exist with zero day partitions (the only day
    * retracted); both guard reads must treat that as empty. */
  private def hasDayPartitions(fs: org.apache.hadoop.fs.FileSystem,
      dailyPath: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(dailyPath) &&
      fs.listStatus(dailyPath).exists(_.getPath.getName.startsWith("day="))

  /** Integrity check — the guard the day-granular replay economics
    * can't give for free: a PARTIAL-day append slips through
    * [[appendDailyDelta]]'s day-level anti-join (the day exists, so a
    * replay of the day's remaining events is silently dropped). The
    * rollup stores the exact per-day event count, so disagreement is
    * detectable: given a recount relation (any events batch whose days
    * it carries IN FULL — the verified-append contract), return the
    * days present in the artifact whose stored Σn_events disagrees
    * with the batch's recount. Cost: one column-pruned artifact scan +
    * an aggregate over the batch — never raw history. */
  def verifyDays(spark: SparkSession, indexDir: String,
      recountEvents: DataFrame): Seq[String] = {
    val dailyPath = new org.apache.hadoop.fs.Path(s"$indexDir/daily")
    val fs = dailyPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!hasDayPartitions(fs, dailyPath)) return Nil
    val stored = dailyOf(spark, indexDir)
      .groupBy("day").agg(sum("n_events").as("stored_n"))
    recountEvents
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("recount_n"))
      .join(stored, Seq("day"))
      // DIRECTION GUARD: only a day the batch knows MORE about than the
      // artifact is repairable from this batch (a prior partial-day
      // ingest). The opposite sign — stored > recount — means the BATCH
      // is the partial one (late stragglers of an already-complete day);
      // repairing from it would retract a complete day and re-roll it
      // from the stragglers alone, destroying data the old day-guard
      // merely ignored. The day-level replay guard makes an over-rolled
      // artifact day impossible, so the under-informed-batch case is
      // the only way the signs flip — skip it.
      .where(col("stored_n") < col("recount_n"))
      .select(date_format(col("day"), "yyyy-MM-dd"))
      .collect().map(_.getString(0)).toSeq.sorted // bounded: ≤ days in the batch
  }

  /** Repair the days [[verifyDays]] flags: retract each corrupted/
    * partial day (partition delete) and re-roll it from the given
    * batch through the guarded append — cost ∝ repaired days, the
    * q153 retraction economics applied automatically. Returns the
    * repaired days. */
  def repairDays(spark: SparkSession, indexDir: String,
      events: DataFrame, lgK: Int = DefaultLgK): Seq[String] = {
    val bad = verifyDays(spark, indexDir, events)
    if (bad.nonEmpty) {
      retractDays(spark, indexDir, bad)
      appendDailyDelta(
        events.where(to_date(col("ts")).cast("string").isin(bad: _*)), indexDir, lgK)
    }
    bad
  }

  /** The self-healing append: verify-and-repair any of the batch's
    * days that sit in the artifact with a disagreeing count (a prior
    * partial-day ingest), then run the normal day-guarded append for
    * the genuinely new days. Contract: the batch carries each of its
    * days in full (the same cadence contract the plain append
    * documents — this entry point just makes violations converge
    * instead of silently persisting). Idempotent: replaying the same
    * full batch repairs nothing and appends nothing. */
  def appendDailyDeltaVerified(deltaEvents: DataFrame, indexDir: String,
      lgK: Int = DefaultLgK): Seq[String] = {
    val spark = deltaEvents.sparkSession
    val repaired = repairDays(spark, indexDir, deltaEvents, lgK)
    appendDailyDelta(deltaEvents, indexDir, lgK)
    repaired
  }

  /** q157: range heavy hitters served from the SAME rollup artifact —
    * per (date range, event_type), the users whose activity exceeds
    * `mult`× the mean active-user rate (count · n_users > mult ·
    * n_range — mean-relative, so the threshold is scale-invariant:
    * per-user activity does not grow with the corpus, absolute n/κ
    * cuts do). The sketch side merges the covered days' LongsSketches
    * (q150's Misra-Gries guarantee, persisted and mergeable); the
    * verdict hashes EXACT counts from the raw table plus
    * `captured_bounded` = 1 iff the sketch's bound theorem holds for
    * the item (lb ≤ exact ≤ ub — true for any merge order/layout, so
    * the flag is deterministic while estimates are not). */
  def rangeHeavyHitters(spark: SparkSession, dir: String,
      ranges: Seq[(Long, String, String)] = DefaultRanges,
      mult: Int = 2): DataFrame = {
    import graft.functions.FreqFunctions._
    val daily = dailyOf(spark, fullRollup(spark, dir))
    val ev = Tables.events(spark, dir).withColumn("day", to_date(col("ts")))
    ranges.map { case (rid, from, until) =>
      val merged = daily.where(col("day") >= lit(from) && col("day") < lit(until))
        .groupBy("event_type")
        .agg(freqUnionAgg(col("users_freq"), DefaultFreqMapSize).as("sk"))
      val counts = ev.where(col("day") >= lit(from) && col("day") < lit(until))
        .groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("exact_count"))
      val totals = counts.groupBy("event_type")
        .agg(sum("exact_count").as("n_range"), count(lit(1)).as("n_users"))
      counts.join(broadcast(totals), Seq("event_type"))
        .where(col("exact_count") * col("n_users") > lit(mult.toLong) * col("n_range"))
        .join(broadcast(merged), Seq("event_type")) // ≤ groups rows on the sketch side
        .select(lit(rid).as("range_id"), col("event_type"), col("user_id"),
          col("exact_count"),
          when(freqLowerBound(col("sk"), col("user_id")) <= col("exact_count") &&
            col("exact_count") <= freqUpperBound(col("sk"), col("user_id")), 1L)
            .otherwise(0L).as("captured_bounded"))
    }.reduce(_.unionByName(_)).orderBy("range_id", "event_type", "user_id")
  }

  /** q153: the CORRECTED rollup under q148's oracle — build, retract
    * three days (two inside the served week, one in the tail), then
    * re-ingest them from the raw table through the guarded append.
    * retract + re-append ≡ monolithic exactly (the retained days'
    * sketches are untouched files; the re-rolled days reproduce
    * theirs — HLL/theta states are functions of the day's value set,
    * counts are exact), which is what the hash gate pins. */
  def sketchRollupCorrected(spark: SparkSession, dir: String,
      correctedDays: Seq[String] = Seq("2024-01-09", "2024-01-10", "2024-01-28"),
      ranges: Seq[(Long, String, String)] = DefaultRanges): DataFrame = {
    val indexDir = rollupArtifacts.getOrCreate(
      spark, s"$dir#rollup-corrected:${correctedDays.mkString(",")}") { tmp =>
      val ev = Tables.events(spark, dir)
      saveDailyRollup(ev, tmp)
      retractDays(spark, tmp, correctedDays)
      appendDailyDelta(
        ev.where(to_date(col("ts")).cast("string").isin(correctedDays: _*)), tmp)
    }
    verdictOver(spark, dir, indexDir, ranges)
  }

  /** q152: range quantiles (p50/p95 of event value per event_type)
    * from the SAME rollup artifact — per-day KLL sketches merged with
    * the union aggregate at serve time, no raw-events relation in the
    * sketch path. The raw table appears only on the VERDICT side:
    * exact interpolated percentiles (the q55-proven cross-engine pair)
    * plus a rank-error check on each estimate — the estimate is an
    * actual retained item, so its exact rank interval
    * [count(<est)+1, count(≤est)] must intersect [(φ−ε)·n, (φ+ε)·n],
    * ε = 5 % against KLL k=200's ~1.65 % two-sided-99 % guarantee.
    * Estimates are never hashed (KLL compaction is randomized; the
    * rank guarantee, not the sample, is the contract). */
  def kllRangeQuantiles(spark: SparkSession, dir: String,
      ranges: Seq[(Long, String, String)] = DefaultRanges): DataFrame = {
    import graft.functions.KllFunctions._
    val daily = dailyOf(spark, fullRollup(spark, dir))
    val ev = Tables.events(spark, dir).withColumn("day", to_date(col("ts")))
    val eps = 0.05
    def rankOk(phi: Double, lt: org.apache.spark.sql.Column,
        le: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      (lt + lit(1.0)) <= (lit(phi + eps) * n) && le >= (lit(phi - eps) * n)
    ranges.map { case (rid, from, until) =>
      val appr = daily.where(col("day") >= lit(from) && col("day") < lit(until))
        .groupBy("event_type")
        .agg(kllUnionAgg(col("value_kll")).as("sk"))
        .select(col("event_type"),
          kllQuantile(col("sk"), 0.5).as("approx_p50"),
          kllQuantile(col("sk"), 0.95).as("approx_p95"))
      val sub = ev.where(col("day") >= lit(from) && col("day") < lit(until))
      val exact = sub.groupBy("event_type").agg(
        count(col("value")).as("n_values"),
        round(expr("percentile(value, 0.5)"), 2).as("p50_exact"),
        round(expr("percentile(value, 0.95)"), 2).as("p95_exact"))
      val ranked = sub.join(broadcast(appr), Seq("event_type")) // ≤ groups rows
        .groupBy("event_type").agg(
          sum(when(col("value") < col("approx_p50"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("value") <= col("approx_p50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("value") < col("approx_p95"), 1L).otherwise(0L)).as("lt95"),
          sum(when(col("value") <= col("approx_p95"), 1L).otherwise(0L)).as("le95"),
          count(col("value")).as("n"))
      exact.join(ranked, Seq("event_type"))
        .select(lit(rid).as("range_id"), col("event_type"),
          col("n_values"), col("p50_exact"), col("p95_exact"),
          when(rankOk(0.5, col("lt50"), col("le50"), col("n")) &&
            rankOk(0.95, col("lt95"), col("le95"), col("n")), 1L)
            .otherwise(0L).as("within_bound"))
    }.reduce(_.unionByName(_)).orderBy("range_id", "event_type")
  }

  /** Release q148/q149/q151/q152's artifacts for `spark` (the
    * TempArtifacts retirement contract). */
  def releaseSession(spark: SparkSession): Int = rollupArtifacts.release(spark)

  // ---------------------------------------------------------------
  // Misra-Gries heavy hitters
  // ---------------------------------------------------------------

  /** q150: corpus heavy hitters via distributed Misra-Gries — the
    * bounded-memory answer to "which tokens exceed n/κ of the stream"
    * when the vocabulary itself is too large to aggregate exactly.
    *
    * Shape: one MG pass per partition ([[mgPartials]] — k counters of
    * genuine imperative state, the `mapPartitions` class the codecs
    * live in; everything around it stays declarative), then the ≤ k
    * partial counters per partition merge by a tiny groupBy-sum.
    * Summed partial estimates obey, for every term t with true count
    * c(t):  c(t) − n/(k+1) ≤ est(t) ≤ c(t)   — each partition's MG
    * undercounts by ≤ n_p/(k+1) and absent-from-partial means est 0,
    * so the bounds add across partitions and hold for ANY partition
    * layout. With κ < k+1, every true heavy hitter (c(t)·κ > n)
    * therefore surfaces with est > 0: capture is a theorem, not a
    * tuning outcome.
    *
    * The verdict relation is partition-layout-independent: exact
    * counts (the gate recomputes them — at gate time the exact
    * aggregate is affordable and is what certifies the sketch) plus
    * `captured_bounded` = 1 iff the term surfaced in the MG candidate
    * set with 0 ≤ c(t) − est(t) ≤ n/(k+1). The est itself is NOT
    * output (it legitimately varies with partitioning; the flag's
    * truth does not). Integer arithmetic only — cross-engine exact. */
  def heavyHittersMg(spark: SparkSession, dir: String,
      counters: Int = 1024, kappa: Int = 500): DataFrame =
    heavyHittersMgOf(Tables.documents(spark, dir), counters, kappa)

  /** [[heavyHittersMg]] over an arbitrary (…, text) relation — the
    * spec entry point for partition-invariance and fuzz pins. */
  private[ops] def heavyHittersMgOf(docs: DataFrame,
      counters: Int, kappa: Int): DataFrame = {
    require(kappa < counters + 1, "capture guarantee needs kappa < counters+1")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(TextAnalysis.tokens(col("text"))).as("term"))
    val partials = toks.as[String].mapPartitions(mgPartials(_, counters)).toDF("term", "est")
    val candidates = partials.groupBy("term").agg(sum("est").as("est"))
    val exact = toks.groupBy("term").agg(count(lit(1)).as("exact_count"))
    // n derives from the exact aggregate (Σ counts = n): no third corpus
    // scan, and the two consumers share one shuffle via ReuseExchange
    val total = exact.agg(sum("exact_count").as("n_total"))
    exact.crossJoin(broadcast(total)) // 1-row side
      .where(col("exact_count") * lit(kappa.toLong) > col("n_total"))
      .join(candidates, Seq("term"), "left")
      .select(col("term"), col("exact_count"),
        when(col("est").isNotNull &&
          col("est") <= col("exact_count") &&
          (col("exact_count") - col("est")) * lit(counters.toLong + 1L) <= col("n_total"),
          1L).otherwise(0L).as("captured_bounded"))
      .orderBy("term")
  }

  /** Classic Misra-Gries over one partition's token stream: k counters;
    * a hit increments, a miss inserts while space remains, otherwise
    * EVERY counter decrements by one and the arriving item is
    * discarded (its +1 and −1 cancel). Each decrement event retires
    * k+1 units of count, so total undercount ≤ n_p/(k+1). Emits the
    * surviving (term, est) counters — ≤ k rows. */
  private[ops] def mgPartials(it: Iterator[String], k: Int): Iterator[(String, Long)] = {
    val m = new java.util.HashMap[String, Long](k * 2)
    while (it.hasNext) {
      val t = it.next()
      val cur = m.getOrDefault(t, 0L)
      if (cur > 0L) m.put(t, cur + 1L)
      else if (m.size < k) m.put(t, 1L)
      else {
        val iter = m.entrySet().iterator()
        while (iter.hasNext) {
          val e = iter.next()
          if (e.getValue == 1L) iter.remove() else e.setValue(e.getValue - 1L)
        }
      }
    }
    import scala.jdk.CollectionConverters._
    m.entrySet().iterator().asScala.map(e => (e.getKey, e.getValue.longValue()))
  }
}
