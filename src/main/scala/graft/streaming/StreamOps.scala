package graft.streaming

import graft.operators.TsFeatures
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (SURVEY §2.4 row 46): the same
  * tumbling-window aggregation the batch engine runs, expressed as
  * readStream -> watermark -> window agg -> writeStream, with a
  * helper that drains all available input and hands back the final
  * table for batch-equivalence checks.
  *
  * Scale notes: the aggregation state is keyed on (window, event_type)
  * — bounded by time range x type cardinality; the 1-hour watermark
  * bounds state retention under append semantics on an unbounded
  * source. Shuffle partitioning follows spark.sql.shuffle.partitions
  * exactly like the batch plan.
  */
object StreamOps {

  /** File-source stream over the events table (schema from a batch
    * probe). `ts` is normalized to the engine convention — Long
    * nanoseconds since epoch — whichever physical parquet type
    * (TIMESTAMP(NANOS) under the nanos legacy flag, or
    * TIMESTAMP(MICROS) → TIMESTAMP_NTZ) the driver generated.
    */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    // the file source wants a directory: stream the table dir, glob
    // down to the events file
    graft.Tables.normalizeTs(
      s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** File-source stream over any testdata table (schema from a batch
    * probe) — the generic sibling of [[eventsStream]] for twins whose
    * batch query reads a non-events table.
    */
  def tableStream(s: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    val schema = s.read.parquet(path).schema
    s.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet")
      .parquet(dir)
  }

  /** Watermarked tumbling 1-hour window aggregation per event_type.
    * Works identically on a batch events DataFrame (batch equivalence).
    * Event time comes from integer-microsecond arithmetic (`div 1000`),
    * never a double nanos division — doubles round 2^60-scale nanos to
    * multiples of 256ns (SURVEY §9), which would make watermark
    * placement non-replayable.
    */
  def windowAgg(events: DataFrame): DataFrame =
    events
      .withColumn("tse", timestamp_micros(expr("cast(ts as long) div 1000")))
      .withWatermark("tse", "1 hour")
      .groupBy(window(col("tse"), "1 hour"), col("event_type"))
      // exact decimal sum (ExactAgg.decSum): order-free, so the result
      // is independent of micro-batch boundaries AND engine-portable —
      // a rounded double sum can land on a 5e-7 tie where engines'
      // round() rules differ (the class SURVEY §10 closed for batch)
      .agg(count(lit(1)).as("n"),
        graft.operators.ExactAgg.decSum(col("value")).as("sum_v"))
      .select(
        floor(unix_timestamp(col("window.start")) / 3600).as("bucket"),
        col("event_type"), col("n"), col("sum_v"))

  /** Streaming exact dedup: emit the FIRST occurrence of each key
    * combination, state = one entry per distinct key. Correct for
    * BOUNDED key domains (here user × event_type); for unbounded
    * content keys use `dropDuplicatesWithinWatermark` so state evicts —
    * at the price of only-within-window dedup semantics.
    */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withColumn("tse", timestamp_micros(expr("cast(ts as long) div 1000")))
      .withWatermark("tse", watermarkDelay)
      .dropDuplicates(keys)
      .select(keys.map(col): _*)

  /** File-source stream over the documents table (schema from a batch
    * probe), for streaming text dedup.
    */
  def docsStream(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val schema = s.read.parquet(path).schema
    s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
  }

  /** Streaming NEAR-dup dedup (SURVEY §7.11): each document explodes
    * into its 4 SimHash 16-bit band keys and
    * `dropDuplicatesWithinWatermark` passes only each band key's FIRST
    * occurrence — a later doc whose every band was already seen (≈ a
    * near-duplicate) emits nothing new. State holds one entry per
    * distinct band key and the watermark EVICTS entries as event time
    * advances, so state is bounded by the key rate within the horizon,
    * not the stream's lifetime — the property exact `dropDuplicates`
    * state lacks on an unbounded corpus.
    *
    * SimHash bands (md5-derived) rather than MinHash bands so an
    * external SQL oracle replays the key set exactly; wordless docs
    * have a null signature and contribute no keys on either engine.
    * Event time derives from the doc id via integer microseconds
    * (`+1` keeps id 0 off the initial watermark tie, which drops
    * epoch-0 rows as late).
    */
  def neardupStream(docs: DataFrame, idCol: String, textCol: String,
                    watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("tse", timestamp_micros(col(idCol).cast("long") + 1))
      .select(col("tse"),
        posexplode(graft.functions.GraftFunctions.simhashBands(col(textCol)))
          .as(Seq("band", "band_val")))
      .withWatermark("tse", watermarkDelay)
      .dropDuplicatesWithinWatermark("band", "band_val")
      .select(col("band"), col("band_val"))

  /** Streaming INCREMENTAL near-dup — the crawl-firehose twin of
    * [[graft.operators.Dedup.incrementalMinhashPairs]]: each incoming
    * document bands STATELESSLY (shingles → MinHash signature → LSH
    * band explode, all local projections, no stream shuffle), probes
    * the PERSISTED band index through a stream-static join, fetches
    * the matched base docs' text from the static corpus, and emits
    * exact-Jaccard-verified pairs in append mode. No state store at
    * all: both joins are stream-static (re-read per micro-batch), so
    * per-batch cost is the two static SCANS plus candidate-bounded
    * compute — base-side shingling happens AFTER the candidate join,
    * never over the whole corpus (the batch twin's discipline); at
    * scale the static index is the shard-partitioned parquet and
    * Spark broadcasts or shuffle-hash-joins it per batch. A pair
    * surfaces once per shared band; the caller dedups the drained
    * batch result (order-free — every copy carries the identical
    * exact-int-derived jaccard).
    */
  def bandIndexProbe(docs: DataFrame, idCol: String, textCol: String,
                     index: DataFrame, baseCorpus: DataFrame,
                     shingleK: Int = 3, numPerms: Int = 128,
                     numBands: Int = 32, threshold: Double = 0.8,
                     seed: Long = 42L): DataFrame = {
    import graft.operators.Dedup
    val banded = docs
      .select(col(idCol).as("id"),
        Dedup.wordShingles(col(textCol), shingleK).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("id"), col("sh"), Dedup.shingleHashes(col("sh")).as("hs"))
      .select(col("id"), col("sh"),
        Dedup.minhashSignature(col("hs"), numPerms, seed).as("sig"))
      .select(col("id"), col("sh"),
        explode(Dedup.lshBands(col("sig"), numBands, numPerms)).as("bk"))
      .select(col("id"), col("sh"),
        col("bk.band").as("band"), col("bk.band_hash").as("band_hash"))
    // candidate join FIRST, base shingling AFTER: the expensive
    // shingle projection runs per candidate row, never per corpus row
    banded
      .join(index.select(col("id").as("base_id"), col("band"),
        col("band_hash")), Seq("band", "band_hash"))
      .where(col("base_id") =!= col("id"))
      .join(baseCorpus.select(col(idCol).as("base_id"),
        col(textCol).as("base_text")), Seq("base_id"))
      .select(
        least(col("base_id"), col("id")).as("id_a"),
        greatest(col("base_id"), col("id")).as("id_b"),
        Dedup.jaccard(Dedup.wordShingles(col("base_text"), shingleK),
          col("sh")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Stream-static enrichment: the event stream joins a BROADCAST
    * static dimension (no shuffle of the stream, no state — the dim
    * snapshot is re-broadcast per micro-batch), then aggregates per
    * (hour window, dim attribute). The canonical "enrich the firehose
    * with reference data" shape; at scale the stream side never
    * repartitions for the join.
    */
  def enrichAgg(events: DataFrame, dim: DataFrame,
                dimKeyCol: String, dimAttrCol: String): DataFrame =
    events
      .withColumn("tse", timestamp_micros(expr("cast(ts as long) div 1000")))
      .withWatermark("tse", "1 hour")
      .join(broadcast(dim.select(col(dimKeyCol), col(dimAttrCol))),
        col("user_id") === col(dimKeyCol))
      .groupBy(window(col("tse"), "1 hour"), col(dimAttrCol))
      .agg(count(lit(1)).as("n"),
        graft.operators.ExactAgg.decSum(col("value")).as("sum_v"))
      .select(
        floor(unix_timestamp(col("window.start")) / 3600).as("bucket"),
        col(dimAttrCol), col("n"), col("sum_v"))

  /** Stream-stream INTERVAL self-join: pairs of events from the same
    * user within `(0, gap]` of each other. Both sides carry watermarks
    * and the join condition bounds right-side event time relative to
    * the left, so the join STATE is watermark-evicted — the
    * stream-stream join shape that stays bounded on an unbounded
    * stream. Inner-join matches emit as found; the final table equals
    * the batch interval self-join.
    */
  /** `joinType = "left_outer"` additionally emits null-padded left
    * rows once the watermark proves no future match is possible
    * (watermark > left time + gap) — the "events that never got a
    * follow-up" shape; unmatched rows inside the final watermark
    * horizon are withheld, exactly like any streaming outer join.
    */
  def intervalSelfJoin(left: DataFrame, right: DataFrame,
                       gap: String = "2 hours",
                       watermarkDelay: String = "1 hour",
                       joinType: String = "inner"): DataFrame = {
    val l = left.select(col("user_id").as("l_uid"),
      timestamp_micros(expr("cast(ts as long) div 1000")).as("l_tse"),
      eventIdOr0(left, "eid_a"))
      .withWatermark("l_tse", watermarkDelay)
    val r = right.select(col("user_id").as("r_uid"),
      timestamp_micros(expr("cast(ts as long) div 1000")).as("r_tse"),
      eventIdOr0(right, "eid_b"))
      .withWatermark("r_tse", watermarkDelay)
    l.join(r,
      col("l_uid") === col("r_uid") &&
        col("r_tse") > col("l_tse") &&
        col("r_tse") <= col("l_tse") + expr(s"interval $gap"),
      joinType)
      .select(col("l_uid").as("user_id"), col("eid_a"), col("eid_b"))
  }

  /** HOT-KEY-MITIGATED stream-stream interval self-join — the scale
    * shape for skewed key distributions (SURVEY §12: one user at a 5%
    * event share measured 3.8× the uniform join; 10% went
    * output-quadratic). The join key is SUB-BUCKETED BY TIME SLICE:
    * with slice width = the gap, a right event at slice s can only
    * match left events in slices {s, s−1}, so the right side duplicates
    * into exactly those two (uid, slice) buckets and the equality key
    * becomes (uid, slice). Consequences:
    *
    *   - STATE for a hot key hash-distributes across its live slices
    *     (different state-store partitions) instead of pinning one
    *     partition, and watermark eviction retires whole slices;
    *   - each true pair matches in EXACTLY ONE bucket (l's slice is a
    *     function of l, and the two right copies carry distinct slice
    *     values), so the output equals the un-salted join with no
    *     dedup pass;
    *   - cost is 2× right-side state — the classic salting trade.
    *
    * The per-key pair OUTPUT within a horizon is inherently quadratic
    * in that key's rate (it is the true join result); slicing
    * parallelizes its production, it cannot shrink it.
    */
  def intervalSelfJoinSalted(left: DataFrame, right: DataFrame,
                             gapMicros: Long = 7200000000L,
                             watermarkDelay: String = "1 hour"): DataFrame = {
    val sliceL = expr(s"cast(ts as long) div 1000 div $gapMicros")
    val l = left.select(col("user_id").as("l_uid"),
      timestamp_micros(expr("cast(ts as long) div 1000")).as("l_tse"),
      sliceL.as("l_slice"),
      eventIdOr0(left, "eid_a"))
      .withWatermark("l_tse", watermarkDelay)
    val r = right.select(col("user_id").as("r_uid"),
      timestamp_micros(expr("cast(ts as long) div 1000")).as("r_tse"),
      eventIdOr0(right, "eid_b"),
      explode(array(sliceL, sliceL - 1)).as("r_slice"))
      .withWatermark("r_tse", watermarkDelay)
    l.join(r,
      col("l_uid") === col("r_uid") &&
        col("l_slice") === col("r_slice") &&
        col("r_tse") > col("l_tse") &&
        col("r_tse") <= col("l_tse") + expr(s"interval $gapMicros microseconds"),
      "inner")
      .select(col("l_uid").as("user_id"), col("eid_a"), col("eid_b"))
  }

  /** Streaming per-key profile: UNWINDOWED complete-mode aggregation —
    * the running per-entity stats board (count/mean/std/min/max/sum)
    * a monitoring pipeline maintains. State is one row per key
    * (bounded by entity cardinality, not stream length); each
    * micro-batch merges partial aggregates, so the final table equals
    * the batch aggregation exactly.
    *
    * SMALL-KEY-ONLY: complete mode retains AND RE-EMITS the entire
    * per-key result table every micro-batch — fine at 10^3 keys, a
    * driver/sink-side scale-killer at 100 TB key cardinality. The
    * scale shape is [[profileUpdate]]: update-mode
    * `mapGroupsWithState` Welford merges that emit only the keys
    * touched by each batch.
    */
  def profileAgg(events: DataFrame): DataFrame =
    events.groupBy(col("user_id")).agg(
      count(col("value")).as("n"),
      // ExactAgg arithmetic, mirroring profileUpdate's fold: the
      // plain double avg/sum were the last tie-class aggregates on
      // the streaming board
      round(graft.operators.ExactAgg.microAvg(col("value")), 6).as("mean_v"),
      round(stddev_pop(col("value")), 6).as("std_v"),
      min(col("value")).as("min_v"),
      max(col("value")).as("max_v"),
      graft.operators.ExactAgg.decSum(col("value")).as("sum_v"))

  final case class ProfileEvent(user_id: Long, ts_ns: Long, event_id: Long,
                                value: Double)
  /** Welford running state + exact integer-microunit accumulators
    * (mirrors [[graft.operators.ExactAgg]]: `qMicros` is the microAvg
    * numerator Σ round(v·1e6), `sumMicros` the decSum numerator
    * Σ halfUp6(v)·1e6 — both order-free int64 sums).
    */
  final case class ProfileState(n: Long, mean: Double, m2: Double,
                                mn: Double, mx: Double,
                                sumMicros: Long, qMicros: Long)
  final case class ProfileRow(user_id: Long, n: Long, mean_v: Double,
                              std_v: Double, min_v: Double, max_v: Double,
                              sum_v: Double)

  /** Round a double to `dp` decimals exactly as Spark's `round()` does
    * (HALF_UP over the shortest-decimal BigDecimal representation).
    */
  private def roundHalfUp(v: Double, dp: Int): Double =
    if (v.isNaN || v.isInfinite) v
    else BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `event_id` as the in-batch sort tie-breaker where the input frame
    * carries one; `lit(0)` otherwise (ad-hoc test frames), degrading
    * the (ts_ns, event_id) sort back to ts-only. Every stateful path
    * selects event_id through this, so the input contract is uniform
    * across sibling operators: frames without the column still run.
    */
  private def eventIdOr0(events: DataFrame, alias: String = "event_id") =
    (if (events.columns.contains("event_id")) col("event_id") else lit(0L))
      .cast("long").as(alias)

  /** Exact microunit quantization of v, matching Spark's
    * double→decimal(·,6) cast: non-finite values cast to NULL there, so
    * they contribute 0 here instead of throwing in `BigDecimal(v)`.
    * Values whose micros overflow int64 (|v| > ~9.223e12 — the EXACT
    * bitLength boundary, not an approximate threshold) also contribute
    * 0: a stateful streaming query must never die on one outlier row.
    * Inside the int64-micros domain the fold is bit-identical to the
    * batch decimal mirrors; beyond it the stream diverges from the
    * batch decimal(28,6) twin BY DESIGN — a microunit-exact pipeline's
    * value contract ends where int64 micros do.
    */
  private[streaming] def microsOrZero(v: Double): Long =
    if (!java.lang.Double.isFinite(v)) 0L
    else {
      val unscaled = BigDecimal(v).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).underlying.unscaledValue
      if (unscaled.bitLength > 63) 0L else unscaled.longValue
    }

  /** Update-mode streaming per-key profile — the 100 TB shape of
    * [[profileAgg]]: per-key Welford merges via `mapGroupsWithState`,
    * emitting ONLY the keys touched by each micro-batch (update mode)
    * instead of re-emitting the whole result table (complete mode).
    * State per key is seven scalars; sink traffic per batch is
    * O(touched keys), not O(all keys ever seen).
    *
    * Engine-portable arithmetic (SURVEY §10): mean and sum accumulate
    * exact int64 microunit sums mirroring `ExactAgg.microAvg` /
    * `ExactAgg.decSum` — order-free, so the result is bit-identical to
    * the batch formula and to a sequential oracle regardless of batch
    * boundaries. Std rides the Welford (mean, M2) pair folded in
    * (ts, event_id) order within each batch — deterministic given the
    * batch sequence; compared at 6 dp like every std on the board
    * (sqrt outputs don't sit on rounding midpoints).
    */
  def profileUpdate(events: DataFrame): Dataset[ProfileRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts").cast("long").as("ts_ns"),
      eventIdOr0(events),
      col("value").cast("double").as("value"))
      .as[ProfileEvent]
    ds.groupByKey(_.user_id)
      .mapGroupsWithState[ProfileState, ProfileRow](GroupStateTimeout.NoTimeout) {
        case (uid, it, state) =>
          // deterministic fold order inside the batch: (ts, event_id)
          val evs = it.toArray.sortBy(e => (e.ts_ns, e.event_id))
          var s = state.getOption.getOrElse(
            ProfileState(0L, 0.0, 0.0, Double.PositiveInfinity,
              Double.NegativeInfinity, 0L, 0L))
          evs.foreach { e =>
            val v = e.value
            val n1 = s.n + 1
            val delta = v - s.mean
            val mean1 = s.mean + delta / n1
            val m21 = s.m2 + delta * (v - mean1)
            s = ProfileState(n1, mean1, m21,
              math.min(s.mn, v), math.max(s.mx, v),
              // decSum term: halfUp-6dp quantization of v (Spark's
              // double→decimal(28,6) cast), exact in micros
              s.sumMicros + microsOrZero(v),
              // microAvg term: round(v * 1e6) — the same double product
              // + HALF_UP the SQL mirror computes; non-finite → null
              // contribution, like the batch decimal cast
              s.qMicros + (if (!java.lang.Double.isFinite(v * 1e6) ||
                math.abs(v * 1e6) >= 9.223372036854775e18) 0L
                else BigDecimal(v * 1e6).setScale(0,
                  BigDecimal.RoundingMode.HALF_UP).toLong))
          }
          state.update(s)
          // half-up integer division (2q+n) div 2n — ExactAgg.microAvg
          val meanMicro =
            if (s.qMicros >= 0) (2 * s.qMicros + s.n) / (2 * s.n)
            else -((-2 * s.qMicros + s.n) / (2 * s.n))
          ProfileRow(uid, s.n,
            roundHalfUp(meanMicro / 1e6, 6),
            roundHalfUp(math.sqrt(math.max(s.m2, 0.0) / s.n), 6),
            s.mn, s.mx,
            s.sumMicros / 1e6)
      }
  }

  /** Drain every available microbatch into a memory sink and return
    * the final result table.
    *
    * `statePartitions`: streaming STATE partitioning is frozen at query
    * start from `spark.sql.shuffle.partitions` (it names the state-store
    * directories, so it can never change under a checkpoint). Stateful
    * operators pay a per-store per-batch commit (a stream-stream join
    * runs FOUR stores per partition), so the right number tracks state
    * SIZE, not core count — a local drain of ~10^5 rows wants far fewer
    * stores than the batch shuffle width, while a 100 TB deployment
    * sizes it to keep each store's state in executor memory. The conf is
    * set for the duration of the query start and restored afterwards.
    *
    * `noDataBatch = Some(false)` skips the trailing NO-DATA micro-batch
    * (`spark.sql.streaming.noDataMicroBatches.enabled`, drain-scoped,
    * restored after). That finalize batch exists to advance the
    * watermark and flush watermark-GATED output; per-batch attribution
    * (GRAFT_STREAM_DEBUG, r18) measured it at 0.8–1.3 s per drain —
    * pure state-store commit fan-out — on drains whose output is
    * already complete after the data batch. ONLY pass Some(false) when
    * nothing the sink sees is watermark-gated: safe for stream-stream
    * INNER joins (matches emit in the arriving batch; the no-data
    * batch only evicts state) and watermarked dropDuplicates (first
    * occurrence emits on arrival). NEVER for outer joins (null-padded
    * rows emit only once the watermark passes — skipping drops them),
    * append-mode window/session aggregations (windows emit on
    * watermark), or EventTimeTimeout state functions (timeouts fire in
    * the no-data batch). Default None keeps the session setting.
    */
  def runToBatch(s: SparkSession, streamDf: DataFrame,
                 mode: String = "complete",
                 statePartitions: Option[Int] = None,
                 noDataBatch: Option[Boolean] = None): DataFrame =
    drained(s, streamDf, mode, statePartitions, noDataBatch) { (q, name) =>
      // micro-batch accounting for bench attribution (GRAFT_STREAM_DEBUG=1)
      if (sys.env.contains("GRAFT_STREAM_DEBUG")) {
        q.recentProgress.foreach { p =>
          System.err.println(s"[stream-debug] batch=${p.batchId} " +
            s"rows=${p.numInputRows} durationMs=${p.durationMs}")
        }
      }
      s.table(name)
    }

  /** Shared drain scaffolding: start `streamDf` into a fresh memory
    * sink, drain with AvailableNow, hand the TERMINATED query + sink
    * view name to `f`. The shuffle-partitions conf (which freezes the
    * state-store partitioning at query start) restores only AFTER the
    * drain — micro-batches keep planning asynchronously after
    * `.start()` returns, so an immediate restore races the first
    * batch's plan and may silently not apply. On failure the sink
    * view is dropped (a half-drained memory table is garbage).
    */
  /** Default streaming STATE partition count for drains that don't
    * pass one explicitly. State partitioning tracks state SIZE, not
    * core count (see [[runToBatch]]'s doc): every state store pays a
    * per-batch commit — the r16 bench attribution showed even a
    * NO-DATA finalize batch costs ~0.8 s at 32 stores vs ~0.2 s at 8
    * on the local drains — so the local default is the same 8 the
    * explicitly-tuned drains (interval joins, profile updates) have
    * used since r12. A 100 TB deployment overrides via
    * SPARK_GRAFT_STATE_PARTITIONS to keep each store's state in
    * executor memory; results are partitioning-independent (order-free
    * aggregates / per-key folds), only the commit fan-out changes.
    * Note this default also applies to [[runToBatch]]/[[drained]]
    * callers that pass statePartitions = None — since r17 those run at
    * 8, not at the session default. A malformed override fails fast
    * with a clear message instead of a bare NumberFormatException
    * inside every drain (ADVICE r17 #1).
    */
  private[graft] def defaultStatePartitions: Int =
    sys.env.get("SPARK_GRAFT_STATE_PARTITIONS") match {
      case None => 8
      case Some(v) =>
        require(v.nonEmpty && v.forall(_.isDigit) && v.length <= 9,
          s"SPARK_GRAFT_STATE_PARTITIONS must be a positive integer, got '$v'")
        val n = v.toInt
        require(n > 0,
          s"SPARK_GRAFT_STATE_PARTITIONS must be positive, got $n")
        n
    }

  /** Uniquifier for concurrent drains (nanoTime alone can collide
    * across threads when drains overlap — stateReport runs three).
    */
  private val drainSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private def drained[T](s: SparkSession, streamDf: DataFrame, mode: String,
                         statePartitions: Option[Int],
                         noDataBatch: Option[Boolean] = None)(
                         f: (org.apache.spark.sql.streaming.StreamingQuery,
                             String) => T): T = {
    val name = s"graft_stream_${System.nanoTime()}_${drainSeq.incrementAndGet()}"
    val ndbConf = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    // touch the no-data-batch conf ONLY when a caller opts in, so the
    // concurrent-drain invariant (stateReport's 3 threads) stays a
    // statePartitions-only concern
    val prevNdb = noDataBatch.map(_ => s.conf.get(ndbConf))
    s.conf.set("spark.sql.shuffle.partitions",
      statePartitions.getOrElse(defaultStatePartitions))
    // see runToBatch's doc: Some(false) is only legal for drains with
    // no watermark-gated output (inner joins, watermarked dedup)
    noDataBatch.foreach(b => s.conf.set(ndbConf, b))
    var ok = false
    try {
      val q = streamDf.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val r = f(q, name)
      ok = true
      r
    } finally {
      if (!ok) {
        try s.catalog.dropTempView(name) catch { case _: Exception => () }
      }
      s.conf.set("spark.sql.shuffle.partitions", prev)
      prevNdb.foreach(v => s.conf.set(ndbConf, v))
    }
  }

  /** One state operator's accounting from the engine's own
    * `StreamingQueryProgress` after a full drain.
    */
  final case class StateOpReport(query: String, op: Int, operator: String,
                                 state_rows: Long, rows_updated: Long,
                                 mem_bytes: Long, watermark: String)

  /** Drain a stateful stream and return the per-operator STATE
    * accounting (rows held, rows updated, bytes, final watermark) —
    * the observability row that turns the repo's "bounded state"
    * claims on the streaming operators into measured numbers. Reads
    * the engine's own metrics (`StreamingQueryProgress.stateOperators`),
    * not a re-derivation, so what it reports is what the state stores
    * actually held when the drain finished.
    */
  def stateReport(s: SparkSession, label: String, streamDf: DataFrame,
                  mode: String,
                  statePartitions: Option[Int] = None): Seq[StateOpReport] =
    drained(s, streamDf, mode, statePartitions) { (q, name) =>
      try {
        // the LAST progress carrying state accounting (the final entry
        // can be an idle/no-data commit with no stateOperators)
        val p = q.recentProgress.reverseIterator
          .find(_.stateOperators.nonEmpty)
        val wm = p.map(pp => Option(pp.eventTime.get("watermark")).getOrElse(""))
          .getOrElse("")
        p.toSeq.flatMap(_.stateOperators.toSeq).zipWithIndex.map {
          case (o, i) => StateOpReport(label, i, o.operatorName,
            o.numRowsTotal, o.numRowsUpdated, o.memoryUsedBytes, wm)
        }
      } finally s.catalog.dropTempView(name) // the report, not the view, is the result
    }

  final case class KeyedEvent(user_id: Long, ts_ns: Long, event_id: Long,
                              event_type: String, value: Double)

  /** Streaming CDC compaction — the update-mode twin of the batch
    * `q_latest_by_key`: per-key `mapGroupsWithState` keeps the single
    * latest row by (ts, event_id) and re-emits a key's snapshot only
    * when a batch delivers a newer row. State = one row per key;
    * sink traffic per batch = O(touched keys). The "maintain a
    * queryable latest-state table from a change stream" shape.
    */
  def latestByKey(events: DataFrame): Dataset[KeyedEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts").cast("long").as("ts_ns"),
      eventIdOr0(events),
      col("event_type").cast("string").as("event_type"),
      col("value").cast("double").as("value"))
      .as[KeyedEvent]
    ds.groupByKey(_.user_id)
      .mapGroupsWithState[KeyedEvent, KeyedEvent](GroupStateTimeout.NoTimeout) {
        case (_, it, state) =>
          val candidate = (state.getOption.iterator ++ it)
            .maxBy(e => (e.ts_ns, e.event_id))
          state.update(candidate)
          candidate
      }
  }

  /** Streaming top-k board over an UPDATE-mode keyed count stream —
    * the 100 TB shape of a "live vocabulary" query. The state behind
    * `counts` is one monotone cumulative count per key with map-side
    * combine; each micro-batch emits only the keys it touched, and
    * this sink reduces that slice to its top k (a distributed
    * TakeOrderedAndProject over TOUCHED rows — never a re-sort of the
    * full state, which for raw web-text tokens is an unbounded
    * typo/URL tail) before merging into a k-entry driver board.
    *
    * Trimming the board to EXACTLY the top k under (n desc, key asc)
    * is lossless: counts only grow, so the k entries that beat a
    * dropped key keep beating it unless the key is touched again — in
    * which case update mode re-emits it with its full cumulative
    * count and it re-enters on merit. Driver memory and per-batch sink
    * traffic are both O(k), independent of vocabulary size.
    */
  /** PRECONDITION (the board is exact ONLY under it): `counts` must be
    * a plain cumulative `groupBy(key).count`-style aggregation of the
    * raw stream in update mode — each emission carries the key's FULL
    * cumulative count, and counts are MONOTONE non-decreasing across
    * batches. A windowed, decaying, or otherwise non-monotone aggregate
    * violates the dropped-keys-stay-beaten argument and would make the
    * board silently approximate; build the aggregation with
    * [[cumulativeCounts]] to get the required shape by construction.
    *
    * @param counts update-mode cumulative keyed counts (see above)
    */
  def topKBoard(counts: DataFrame, k: Int,
                keyCol: String = "w", countCol: String = "n",
                statePartitions: Option[Int] = None): Seq[(String, Long)] = {
    val s = counts.sparkSession
    val ord = Ordering.by[(String, Long), (Long, String)] {
      case (w, n) => (-n, w)
    }
    val board = scala.collection.mutable.HashMap.empty[String, Long]
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      statePartitions.getOrElse(defaultStatePartitions))
    // conf restored only after the drain: batches plan asynchronously
    // after .start(), so an early restore races the first batch
    try {
      val q = counts.writeStream
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val top = batch
            .orderBy(col(countCol).desc, col(keyCol))
            .limit(k)
            .collect()
          top.foreach(r => board(r.getAs[String](keyCol)) = r.getAs[Long](countCol))
          if (board.size > k) {
            val kept = board.toSeq.sorted(ord).take(k)
            board.clear()
            kept.foreach { case (w, n) => board(w) = n }
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
    }
    board.toSeq.sorted(ord)
  }

  /** The [[topKBoard]] precondition made structural: a cumulative
    * update-mode keyed count over the raw stream — one monotone count
    * per distinct key with map-side combine, each batch emitting only
    * touched keys.
    */
  def cumulativeCounts(stream: DataFrame, key: org.apache.spark.sql.Column,
                       keyName: String = "w", countName: String = "n"): DataFrame =
    stream.groupBy(key.as(keyName)).agg(count(lit(1)).as(countName))

  /** KEYED top-k board — [[topKBoard]] generalized from one global
    * board to one board per GROUP (e.g. the top-k URLs per domain):
    * the per-group monotone-cumulative-count argument is identical, so
    * each group's k entries are exact, not approximate. Per batch the
    * touched slice reduces DISTRIBUTED to ≤ k rows per touched group
    * (one row_number window over the batch slice — never a re-sort of
    * full state) before merging into the driver board.
    *
    * BOUNDED-GROUP-ONLY: driver memory and final output are
    * O(#groups × k) — sized for a bounded grouping dimension (domains,
    * languages, tenants), not an unbounded one.
    *
    * PRECONDITION: as [[topKBoard]] — `counts` must be an update-mode
    * cumulative `groupBy(group, key).count` of the raw stream
    * (monotone full cumulative counts; build via
    * [[cumulativeKeyedCounts]]).
    */
  def keyedTopKBoard(counts: DataFrame, k: Int,
                     groupCol: String, keyCol: String, countCol: String,
                     statePartitions: Option[Int] = None): Seq[(String, String, Long)] = {
    import org.apache.spark.sql.expressions.Window
    val s = counts.sparkSession
    val entryOrd = Ordering.by[(String, Long), (Long, String)] {
      case (w, n) => (-n, w)
    }
    val board =
      scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.HashMap[String, Long]]
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      statePartitions.getOrElse(defaultStatePartitions))
    try {
      val q = counts.writeStream
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val w = Window.partitionBy(col(groupCol))
            .orderBy(col(countCol).desc, col(keyCol))
          val top = batch
            .withColumn("__rk", row_number().over(w))
            .where(col("__rk") <= k)
            .collect()
          top.foreach { r =>
            val g = board.getOrElseUpdate(r.getAs[String](groupCol),
              scala.collection.mutable.HashMap.empty[String, Long])
            g(r.getAs[String](keyCol)) = r.getAs[Long](countCol)
          }
          board.valuesIterator.foreach { g =>
            if (g.size > k) {
              val kept = g.toSeq.sorted(entryOrd).take(k)
              g.clear()
              kept.foreach { case (w2, n) => g(w2) = n }
            }
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
    }
    board.toSeq.sortBy(_._1).flatMap { case (grp, g) =>
      g.toSeq.sorted(entryOrd).map { case (w2, n) => (grp, w2, n) }
    }
  }

  /** The [[keyedTopKBoard]] precondition made structural: cumulative
    * update-mode (group, key) counts over the raw stream.
    */
  def cumulativeKeyedCounts(stream: DataFrame,
                            group: org.apache.spark.sql.Column,
                            key: org.apache.spark.sql.Column,
                            groupName: String, keyName: String,
                            countName: String = "n"): DataFrame =
    stream.groupBy(group.as(groupName), key.as(keyName))
      .agg(count(lit(1)).as(countName))

  final case class QSketchState(buckets: Map[Double, Long])
  final case class QuantileRow(user_id: Long, n: Long, p50: Double, p95: Double)

  /** Update-mode streaming per-key QUANTILE profile over the
    * deterministic log-histogram sketch ([[graft.operators
    * .QuantileSketch]]): state per key is one count per occupied
    * geometric bucket (bounded by the value range, not the stream),
    * merged by count addition — order-free, so the snapshot equals the
    * batch sketch exactly and the same SQL oracle covers both. The
    * quantile a t-digest could only approximate non-replayably is here
    * a pure function of deterministic bucket counts.
    */
  def quantileProfileUpdate(events: DataFrame): Dataset[QuantileRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(
      col("user_id").cast("long").as("_1"),
      col("value").cast("double").as("_2")).as[(Long, Double)]
    ds.groupByKey(_._1)
      .mapGroupsWithState[QSketchState, QuantileRow](GroupStateTimeout.NoTimeout) {
        case (uid, it, state) =>
          var m = state.getOption.map(_.buckets).getOrElse(Map.empty[Double, Long])
          it.foreach { case (_, v) =>
            val r = graft.operators.QuantileSketch.repOf(v)
            m = m.updated(r, m.getOrElse(r, 0L) + 1L)
          }
          state.update(QSketchState(m))
          QuantileRow(uid, m.valuesIterator.sum,
            graft.operators.QuantileSketch.select(m, 0.5),
            graft.operators.QuantileSketch.select(m, 0.95))
      }
  }

  /** The idempotent foreachBatch writer: each micro-batch OVERWRITES
    * its own batchId-named partition directory. On failure/restart
    * Structured Streaming re-delivers the last uncommitted batch with
    * the SAME batchId — the replay overwrites its previous (possibly
    * partial) output instead of appending duplicates. This is the
    * exactly-once file-sink recipe for non-transactional stores;
    * exposed as a plain function so the replay property is directly
    * spec-testable.
    */
  def idempotentBatchWriter(outDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  /** Drain a stream through the idempotent foreachBatch parquet sink
    * (checkpointed — the batchId sequence survives restarts).
    */
  def runIdempotentSink(streamDf: DataFrame, outDir: String,
                        checkpoint: String): Unit = {
    val q = streamDf.writeStream
      .foreachBatch(idempotentBatchWriter(outDir))
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  final case class SessionEvent(user_id: Long, ts_ns: Long, event_id: Long,
                                value: Double)
  /** sumMicros: Σ halfUp6(value)·1e6 as int64 — the ExactAgg.decSum
    * mirror (order-free, batch-boundary-independent), emitted as
    * sumMicros/1e6.
    */
  final case class SessionState(start_ns: Long, end_ns: Long, n: Long, sumMicros: Long)
  final case class Session(user_id: Long, start_ns: Long, end_ns: Long,
                           n: Long, sum_v: Double)

  /** Stateful sessionization: per-user custom state via
    * `flatMapGroupsWithState` — a session closes after `gapNanos` of
    * inactivity and is emitted. State per key is a handful of scalars —
    * bounded by the LIVE-user cardinality because idle users' open
    * sessions close by EVENT-TIME TIMEOUT: once the watermark passes
    * session end + gap the session is emitted and its state REMOVED.
    * (With NoTimeout, state would grow with total-ever-seen users — a
    * slow OOM on an unbounded stream.)
    *
    * The event-time column is built with integer microsecond arithmetic
    * (`timestamp_micros(ts div 1000)`), never a double round-trip, so
    * the watermark — and therefore exactly WHICH sessions time out — is
    * deterministic and replayable by an external oracle.
    */
  def sessionize(events: DataFrame, gapNanos: Long,
                 watermarkDelay: String = "1 hour"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapNanos / 1000000L
    val ds = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts").cast("long").as("ts_ns"),
      eventIdOr0(events),
      col("value").cast("double").as("value"),
      timestamp_micros(expr("cast(ts as long) div 1000")).as("tse"))
      .withWatermark("tse", watermarkDelay)
      .as[SessionEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, it, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(uid, s.start_ns, s.end_ns, s.n, s.sumMicros / 1e6))
          } else {
            // per-microbatch buffer+sort: bounded by one user's events in
            // ONE microbatch, not the stream; event_id makes the sort
            // total even if the (user, ts)-uniqueness contract breaks
            val evs = it.toSeq.sortBy(e => (e.ts_ns, e.event_id))
            val out = scala.collection.mutable.ListBuffer.empty[Session]
            def micros(v: Double): Long = microsOrZero(v)
            var cur = state.getOption
            evs.foreach { e =>
              cur match {
                case Some(s) if e.ts_ns - s.end_ns <= gapNanos =>
                  cur = Some(SessionState(s.start_ns, e.ts_ns, s.n + 1,
                    s.sumMicros + micros(e.value)))
                case Some(s) =>
                  out += Session(uid, s.start_ns, s.end_ns, s.n, s.sumMicros / 1e6)
                  cur = Some(SessionState(e.ts_ns, e.ts_ns, 1L, micros(e.value)))
                case None =>
                  cur = Some(SessionState(e.ts_ns, e.ts_ns, 1L, micros(e.value)))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close when the watermark passes end + gap; Spark requires
              // a timeout strictly beyond the current watermark
              state.setTimeoutTimestamp(
                math.max(s.end_ns / 1000000L + gapMs,
                  state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  /** Batch-equivalent sessionization (gap boundaries via lag + running
    * sum per user) for the equivalence spec; includes the final open
    * session, which streaming append-mode does not emit.
    *
    * `exactSum = true` aggregates sum_v via ExactAgg.decSum (exact
    * decimal(28,6), order-free) — the twin of `sessionize`'s
    * micro-quantized fold (identical per-term quantization, exact
    * sums), so it is what both the oracle-compared batch query AND the
    * streaming-equivalence spec use; the default double sum remains
    * for callers that want raw IEEE accumulation.
    */
  def sessionizeBatch(events: DataFrame, gapNanos: Long,
                      exactSum: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    events
      .select(col("user_id"), col("ts").cast("long").as("ts_ns"), col("value"))
      .withColumn("new_sess",
        when(col("ts_ns") - lag(col("ts_ns"), 1).over(
          Window.partitionBy(col("user_id")).orderBy(col("ts_ns"))) > gapNanos, 1L)
          .otherwise(lit(0L)))
      .withColumn("sess_id", sum(col("new_sess")).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts_ns"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("ts_ns")).as("start_ns"), max(col("ts_ns")).as("end_ns"),
        count(lit(1)).as("n"),
        (if (exactSum) graft.operators.ExactAgg.decSum(col("value"))
         else sum(col("value"))).as("sum_v"))
      .drop("sess_id")
  }

  final case class TypedEvent(user_id: Long, ts_ns: Long, event_type: String,
                              event_id: Long)
  final case class TransState(last: String)
  final case class Transition(event_type: String, next_type: String)

  /** Streaming twin of the batch event-transition extraction: per-key
    * state is ONLY the last event type (O(1) per user), each arriving
    * event emits its (prev → cur) transition — so the drained
    * transition stream aggregates to exactly the batch lead()-based
    * matrix and `stream_event_transitions` shares `q_event_transitions`'
    * oracle. In-order-source contract as on every stream twin here.
    */
  def eventTransitions(events: DataFrame): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts").cast("long").as("ts_ns"),
      col("event_type").cast("string").as("event_type"),
      eventIdOr0(events)).as[TypedEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state) =>
          val evs = it.toSeq.sortBy(e => (e.ts_ns, e.event_id))
          var prev = state.getOption.map(_.last).orNull
          val out = evs.flatMap { e =>
            val t = if (prev != null) Some(Transition(prev, e.event_type)) else None
            prev = e.event_type
            t
          }
          if (prev != null) state.update(TransState(prev))
          out.iterator
      }
  }

  final case class Scd2State(attr: String, from: Long, version: Long)
  final case class Scd2Row(user_id: Long, version: Long, attr: String,
                           valid_from: Long, valid_to: Long)

  /** Streaming SCD2 dimension build: per-key state is the OPEN version
    * (attr, valid_from, version counter — O(1) per key); an arriving
    * attribute change CLOSES it (append-mode emit with valid_to = the
    * change timestamp) and opens the next. Only closed versions are
    * persisted — the open version is exactly what the state store
    * holds, which is how a live SCD2 ingestion actually runs (the
    * current row is servable from state; history lands in the sink).
    * The drained closed set equals the batch `q_scd2` rows with
    * `valid_to IS NOT NULL`, row for row. Event-time order per key
    * across micro-batches is the corpus contract the
    * funnel/Holt/transition twins already pin; (user, ts) uniqueness
    * makes the in-batch sort tie-free.
    */
  def scd2(events: DataFrame): Dataset[Scd2Row] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts").cast("long").as("ts_ns"),
      col("event_type").cast("string").as("event_type"),
      eventIdOr0(events)).as[TypedEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state) =>
          val evs = it.toSeq.sortBy(e => (e.ts_ns, e.event_id))
          var cur = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Row]
          evs.foreach { e =>
            if (cur == null) {
              cur = Scd2State(e.event_type, e.ts_ns, 1L)
            } else if (e.event_type != cur.attr) {
              out += Scd2Row(uid, cur.version, cur.attr, cur.from, e.ts_ns)
              cur = Scd2State(e.event_type, e.ts_ns, cur.version + 1)
            }
          }
          if (cur != null) state.update(cur)
          out.iterator
      }
  }

  final case class FunnelState(t1: Long, t2: Long, t3: Long) // 0 = unset
  final case class FunnelRow(user_id: Long, t1: Option[Long],
                             t2: Option[Long], t3: Option[Long])

  /** Streaming funnel state machine (view → click → purchase,
    * strictly-after semantics): per-user state is three timestamps
    * (O(1)), advanced per event in event-time order; every batch
    * emits the user's current snapshot. The funnel is MONOTONE — a
    * step timestamp never changes once set — so the most-advanced
    * snapshot per user (the drain-side rank the query applies) equals
    * the batch `q_funnel` row, and the query shares its oracle.
    */
  def funnel(events: DataFrame): Dataset[FunnelRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts").cast("long").as("ts_ns"),
      col("event_type").cast("string").as("event_type"),
      eventIdOr0(events)).as[TypedEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state) =>
          var st = state.getOption.getOrElse(FunnelState(0L, 0L, 0L))
          it.toSeq.sortBy(e => (e.ts_ns, e.event_id)).foreach { e =>
            e.event_type match {
              case "view" if st.t1 == 0L => st = st.copy(t1 = e.ts_ns)
              case "click" if st.t2 == 0L && st.t1 != 0L && e.ts_ns > st.t1 =>
                st = st.copy(t2 = e.ts_ns)
              case "purchase" if st.t3 == 0L && st.t2 != 0L && e.ts_ns > st.t2 =>
                st = st.copy(t3 = e.ts_ns)
              case _ =>
            }
          }
          state.update(st)
          def opt(v: Long) = if (v == 0L) None else Some(v)
          Iterator.single(FunnelRow(uid, opt(st.t1), opt(st.t2), opt(st.t3)))
      }
  }

  final case class ZEvent(user_id: Long, ts_ns: Long, event_id: Long,
                          value: Double)
  /** Ring buffer of the last `window` 3-dp-quantized values, oldest
    * first — O(window) state per key, the whole monitoring contract.
    */
  final case class ZState(m: Seq[Long])
  final case class ZScore(user_id: Long, ts: Long, value: Double,
                          z: Option[Double], is_anomaly: Option[Int])

  /** Streaming twin of [[graft.operators.Decompose.rollingZ]]: each
    * event scored one-step-ahead against the mean/std of the `window`
    * PRECEDING events, carried across micro-batches as a per-key ring
    * buffer of 3-dp-quantized int64 values (identical integer
    * arithmetic to the batch operator, so the drained stream equals
    * the batch frame row for row and SHARES its DuckDB oracle).
    * Events inside a micro-batch buffer+sort by event time (bounded
    * by one key's events in ONE batch); cross-batch order is the file
    * arrival order, the same in-order-source contract every stream
    * twin in this module documents. State is O(window) longs per key
    * with NoTimeout — bounded by key cardinality, not stream length.
    */
  final case class HoltState(lm: Long, bm: Long, started: Boolean)
  final case class HoltRow(user_id: Long, ts: Long, value: Double,
                           level: Double, trend: Double)

  /** Streaming twin of [[graft.operators.TsFeatures.holt]]: the
    * (level, trend) integer micro-unit pair carried across
    * micro-batches per key — the batch operator's own step
    * (`TsFeatures.holtStep`), so the drained stream equals the batch
    * frame row for row and shares its recursive-CTE oracle. O(2 longs)
    * state per key; in-order-source contract as documented on every
    * stream twin here.
    */
  def holtSmooth(events: DataFrame, alphaNum: Long = 3, betaNum: Long = 1,
                 den: Long = 10): Dataset[HoltRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts").cast("long").as("ts_ns"),
      eventIdOr0(events),
      col("value").cast("double").as("value")).as[ZEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[HoltState, HoltRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state) =>
          val evs = it.toSeq.sortBy(e => (e.ts_ns, e.event_id))
          var st = state.getOption.getOrElse(HoltState(0L, 0L, started = false))
          val out = evs.map { e =>
            val xm = TsFeatures.micro(e.value)
            val (lm, bm) =
              if (!st.started) (xm, 0L)
              else TsFeatures.holtStep((st.lm, st.bm), xm, alphaNum, betaNum, den)
            st = HoltState(lm, bm, started = true)
            HoltRow(uid, e.ts_ns, e.value, st.lm / 1e6, st.bm / 1e6)
          }
          state.update(st)
          out.iterator
      }
  }

  def rollingZScores(events: DataFrame, window: Int = 20, minN: Int = 8,
                     threshold: Double = 3.0): Dataset[ZScore] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts").cast("long").as("ts_ns"),
      eventIdOr0(events),
      col("value").cast("double").as("value")).as[ZEvent]
    def micro3(v: Double): Long =
      BigDecimal(v * 1e3).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[ZState, ZScore](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state) =>
          val evs = it.toSeq.sortBy(e => (e.ts_ns, e.event_id))
          var buf = state.getOption.map(_.m.toVector).getOrElse(Vector.empty[Long])
          val out = evs.map { e =>
            val m = micro3(e.value)
            val n = buf.length.toLong
            val s = buf.sum
            val q = buf.map(x => x * x).sum
            val varNum = n * q - s * s
            val z = if (n >= minN && varNum > 0)
              Some((n * m - s).toDouble / math.sqrt(varNum.toDouble)) else None
            buf = (buf :+ m).takeRight(window)
            ZScore(uid, e.ts_ns, e.value, z,
              z.map(zz => if (math.abs(zz) > threshold) 1 else 0))
          }
          state.update(ZState(buf))
          out.iterator
      }
  }

  final case class RetEvent(user_id: Long, ts_ns: Long)
  /** Cohort week + offsets already emitted — O(#active-weeks) longs
    * per user, bounded by the corpus time span, not stream length.
    */
  final case class RetState(wk0: Long, offs: Seq[Long])
  final case class RetRow(user_id: Long, cohort_wk: Long, week_offset: Long)

  /** Streaming twin of `q_retention_cohorts`: per-user state is the
    * cohort week (fixed by the user's FIRST event — the in-order-
    * source contract every stream twin here documents) plus the set
    * of week offsets already emitted, so each (user, offset) pair is
    * emitted exactly once; the drained stream aggregated by
    * (cohort, offset) therefore equals the batch retention matrix and
    * the query shares its oracle verbatim. Week arithmetic is the
    * batch query's integer division on Long nanos, bit for bit.
    */
  final case class SeqState(e1: String, e2: String) // last two event types
  final case class SeqRow(user_id: Long, path: String)

  /** Streaming trigram journey emission: per-user state is the last
    * TWO event types (O(2) strings — the n-gram generalization of the
    * Markov last-one state); each arriving event completes one
    * trigram. The drained (user, path) rows aggregated by path equal
    * the batch lead-window trigrams, so `stream_seq_patterns` shares
    * `q_seq_patterns`' oracle after the identical support ranking.
    */
  def seqPatterns(events: DataFrame): Dataset[SeqRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts").cast("long").as("ts_ns"),
      col("event_type").cast("string").as("event_type"),
      eventIdOr0(events)).as[TypedEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqState, SeqRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state) =>
          val evs = it.toSeq.sortBy(e => (e.ts_ns, e.event_id))
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[SeqRow]
          evs.foreach { e =>
            if (st != null && st.e1 != null) {
              out += SeqRow(uid, s"${st.e1}>${st.e2}>${e.event_type}")
            }
            st = if (st == null) SeqState(null, e.event_type)
              else SeqState(st.e2, e.event_type)
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  final case class AttrEvent(user_id: Long, ts_ns: Long, event_type: String,
                             cents: Long, channel: String, event_id: Long)
  final case class AttrState(cts: Long, cch: String)
  final case class AttrRow(channel: String, cents: Long)

  /** Streaming last-touch attribution: per-user state is ONLY the most
    * recent click's (ts, channel) — O(1), the smallest state any
    * attribution model admits; a purchase emits its credited
    * (channel, cents) immediately (7-day lookback, else 'direct').
    * The drained rows aggregated by channel equal the batch
    * `q_attribution` rollup and share its oracle verbatim.
    */
  def attribution(events: DataFrame, lookbackNs: Long = 7L * 86400000000000L): Dataset[AttrRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ch = concat(lit("ch"),
      (get_json_object(col("props"), "$.k").cast("long") % 4).cast("string"))
    val ds = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts").cast("long").as("ts_ns"),
      col("event_type").cast("string").as("event_type"),
      when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long")).otherwise(0L).as("cents"),
      ch.as("channel"),
      eventIdOr0(events)).as[AttrEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, AttrRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state) =>
          val evs = it.toSeq.sortBy(e => (e.ts_ns, e.event_id))
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[AttrRow]
          evs.foreach { e =>
            if (e.event_type == "purchase") {
              val chn = if (st != null && st.cts >= e.ts_ns - lookbackNs) st.cch
                else "direct"
              out += AttrRow(chn, e.cents)
            }
            if (e.event_type == "click") st = AttrState(e.ts_ns, e.channel)
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  final case class LtvEvent(user_id: Long, ts_ns: Long, cents: Long,
                            event_id: Long)
  final case class LtvState(wk0: Long)
  final case class LtvRow(cohort_wk: Long, week_offset: Long, cents: Long)

  /** Streaming cohort-LTV contributions: per-user state is ONLY the
    * cohort week (fixed by the first event under the in-order-source
    * contract); every event emits its (cohort, offset, cents)
    * contribution exactly once, so the drained stream SUMMED by
    * (cohort, offset) equals the batch `q_cohort_ltv` cent totals —
    * revenue attribution is additive, which is what makes the LTV
    * matrix streamable with O(1) state where retention needed the
    * emitted-offset set.
    */
  def cohortLtv(events: DataFrame): Dataset[LtvRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val wkNs = 604800000000000L
    val ds = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts").cast("long").as("ts_ns"),
      when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long")).otherwise(0L).as("cents"),
      eventIdOr0(events))
      .as[LtvEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[LtvState, LtvRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state) =>
          val evs = it.toSeq.sortBy(e => (e.ts_ns, e.event_id))
          val st = state.getOption.getOrElse(LtvState(evs.head.ts_ns / wkNs))
          state.update(st)
          evs.map { e =>
            LtvRow(st.wk0, e.ts_ns / wkNs - st.wk0, e.cents)
          }.iterator
      }
  }

  def retention(events: DataFrame): Dataset[RetRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val wkNs = 604800000000000L
    val ds = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts").cast("long").as("ts_ns")).as[RetEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[RetState, RetRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state) =>
          val wks = it.map(_.ts_ns / wkNs).toSeq.sorted
          var st = state.getOption.getOrElse(RetState(wks.head, Seq.empty))
          val out = Seq.newBuilder[RetRow]
          wks.foreach { wk =>
            val off = wk - st.wk0
            if (off >= 0 && !st.offs.contains(off)) {
              st = st.copy(offs = st.offs :+ off)
              out += RetRow(uid, st.wk0, off)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class SpanEvent(user_id: Long, ts_ns: Long)
  final case class SpanState(f: Long, l: Long)
  final case class SpanRow(user_id: Long, f: Long, l: Long)

  /** Streaming per-user activity span (first/last event time): O(1)
    * state per user, each micro-batch emits the user's CURRENT span
    * snapshot. Spans only widen, so the drained most-advanced
    * snapshot per user (max l, then min f) equals the batch
    * min/max rollup — the KM survival twin finishes its day-grain
    * curve on that snapshot and shares `q_survival_km`'s oracle.
    */
  def userSpans(events: DataFrame): Dataset[SpanRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts").cast("long").as("ts_ns")).as[SpanEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[SpanState, SpanRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state) =>
          var st = state.getOption.orNull
          it.foreach { e =>
            st = if (st == null) SpanState(e.ts_ns, e.ts_ns)
              else SpanState(math.min(st.f, e.ts_ns), math.max(st.l, e.ts_ns))
          }
          if (st == null) Iterator.empty
          else { state.update(st); Iterator.single(SpanRow(uid, st.f, st.l)) }
      }
  }

  final case class ActState(ne: Long, np: Long)
  final case class ActRow(user_id: Long, n_events: Long, np: Long)

  /** Streaming per-user activity counters (total events + purchases):
    * O(1) state, each batch emits the current snapshot. Both counters
    * are monotone, so the drained max-by-(n_events, np) snapshot per
    * user equals the batch rollup — the gains-curve twin scores on it
    * and shares `q_gains_curve`'s oracle.
    */
  def userActivity(events: DataFrame): Dataset[ActRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(
      col("user_id").cast("long").as("user_id"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("is_p"))
      .as[NpEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[ActState, ActRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state) =>
          var (ne, np) = state.getOption.map(s0 => (s0.ne, s0.np)).getOrElse((0L, 0L))
          it.foreach { e => ne += 1; np += e.is_p }
          state.update(ActState(ne, np))
          Iterator.single(ActRow(uid, ne, np))
      }
  }

  final case class RevEvent(user_id: Long, is_p: Long, cents: Long)
  final case class RevState(ne: Long, np: Long, rc: Long)
  final case class RevRow(user_id: Long, ne: Long, np: Long, rc: Long)

  /** Streaming per-user (events, purchases, revenue-cents) snapshot —
    * the 3-counter extension of [[userActivity]]: O(1) monotone state
    * per user, each batch emits the current snapshot, and the drained
    * most-advanced snapshot (max by all three counters — they move
    * together) equals the batch rollup. Feeds the partial-correlation
    * twin.
    */
  def userRevActivity(events: DataFrame): Dataset[RevRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(
      col("user_id").cast("long").as("user_id"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("is_p"),
      when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long")).otherwise(0L).as("cents"))
      .as[RevEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[RevState, RevRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state) =>
          var (ne, np, rc) = state.getOption
            .map(s0 => (s0.ne, s0.np, s0.rc)).getOrElse((0L, 0L, 0L))
          it.foreach { e => ne += 1; np += e.is_p; rc += e.cents }
          state.update(RevState(ne, np, rc))
          Iterator.single(RevRow(uid, ne, np, rc))
      }
  }

  final case class NpEvent(user_id: Long, is_p: Long)
  final case class NpState(np: Long)
  final case class NpRow(user_id: Long, np: Long)

  /** Streaming per-user purchase counter: O(1) state, each batch
    * emits the user's current count. Counts are monotone, so the
    * drained max per user equals the batch rollup — the A/B-lift
    * twin feeds those counts to the shared z-test tail and reuses
    * `q_ab_lift`'s oracle verbatim.
    */
  def purchaseCounts(events: DataFrame): Dataset[NpRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ds = events.select(
      col("user_id").cast("long").as("user_id"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("is_p"))
      .as[NpEvent]
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[NpState, NpRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state) =>
          val np = state.getOption.map(_.np).getOrElse(0L) + it.map(_.is_p).sum
          state.update(NpState(np))
          Iterator.single(NpRow(uid, np))
      }
  }
}
