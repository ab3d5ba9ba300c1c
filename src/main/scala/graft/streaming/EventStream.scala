package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events table.
  *
  * The reference has no streaming (SURVEY §2.10) — its closest analogs are
  * checkpoint-file resume loops. Beyond-parity scope: the same tumbling-
  * window aggregation the batch query `st1_tumbling_window` runs, expressed
  * as `readStream` → watermark → window → sink, so an events feed can be
  * processed incrementally with bounded state (the watermark expires window
  * state; at scale this is what keeps a 100 TB/day feed's state finite).
  */
object EventStream {

  /** Raw parquet schema with `ts` as a placeholder — the actual `ts`
    * encoding varies across testdata generations (TIMESTAMP(NANOS)-as-long
    * vs TIMESTAMP_MICROS) and is probed from the footer at read time. */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over the sf directory's events file(s).
    *
    * `readStream` needs a declared schema, but the driver has shipped
    * `ts` both as TIMESTAMP(NANOS) (readable only as raw long) and as
    * TIMESTAMP_MICROS. Probe the real type with a metadata-only batch read
    * of the footer, declare the matching stream schema, and normalize to
    * TimestampType either way so every downstream watermark/window is
    * encoding-agnostic. */
  def readStream(spark: SparkSession, sfDir: String,
                 glob: String = "events.parquet"): DataFrame = {
    val tsType =
      spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    normalizeTs(streamReader(spark, tsType)
      .option("pathGlobFilter", glob)
      .parquet(sfDir), tsType)
  }

  private def streamReader(spark: SparkSession, tsType: DataType) = {
    val schema = StructType(rawSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    spark.readStream.schema(schema)
  }

  private def normalizeTs(raw: DataFrame, tsType: DataType): DataFrame =
    tsType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }

  /** Materialize the events table as a TIME-ORDERED multi-file feed:
    * `chunks` parquet files range-partitioned on `ts`, renamed to
    * `chunk-%05d.parquet` in range order with strictly increasing
    * modification times, so a file stream replays them oldest-first.
    *
    * Why this exists (measured, sf100): replaying a whole month of events
    * as ONE micro-batch pins the watermark at 0 for the entire run — the
    * stream-stream interval join buffers BOTH full sides (~20 GB of
    * RocksDB state, 200M row updates) and every probe scans month-deep
    * state through JNI; st6 measured 1903 s (70×/decade, vs ~10× for the
    * batch queries). A real 100 TB/day feed does not arrive as one batch —
    * files land in (roughly) event-time order, the watermark advances
    * between micro-batches, and state stays `interval + chunk-span` deep
    * instead of feed-lifetime deep. This helper reproduces that arrival
    * shape from a static tier. Because the chunks are time-ordered, no row
    * is late: watermark eviction only removes state that can no longer
    * match (Spark derives the join-state watermark from the interval
    * bounds), so the output set is identical to the single-batch replay —
    * asserted by StreamingSpec's chunked-feed equivalence tests. */
  def timeOrderedFeed(spark: SparkSession, sfDir: String, feedDir: String,
      chunks: Int): String = {
    import org.apache.hadoop.fs.Path
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.repartitionByRange(chunks, col("ts"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(feedDir)
    val dir = new Path(feedDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // task index == range-partition index, so name order == time order
    val parts = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val base = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (src, i) =>
      val dst = new Path(dir, f"chunk-$i%05d.parquet")
      require(fs.rename(src, dst), s"rename failed: $src")
      fs.setTimes(dst, base + i * 1000L, -1)
    }
    feedDir
  }

  /** Stream over a [[timeOrderedFeed]] directory: one chunk per
    * micro-batch (`maxFilesPerTrigger=1`, oldest-mtime first — the file
    * source's default order), so the watermark advances and evicts state
    * between chunks exactly as it would on a live file feed. */
  def readFeedStream(spark: SparkSession, feedDir: String): DataFrame = {
    val tsType = spark.read.parquet(feedDir).schema("ts").dataType
    normalizeTs(streamReader(spark, tsType)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "chunk-*.parquet")
      .parquet(feedDir), tsType)
  }

  /** Watermarked tumbling-window counts per event type. Input is projected
    * to the three referenced columns BEFORE the watermark (r15, guide §2.3
    * "project before the exchange"): a stateful op's exchange and state
    * rows otherwise carry every source column — including the ~100 B
    * `props` JSON string — for an aggregate that reads three. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .select("ts", "event_type", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Distinct users per event type with BOUNDED dedup state: plain
    * `dropDuplicates(user_id, event_type)` never evicts (the keys carry no
    * event time, so the watermark can't expire them and state grows with
    * distinct keys forever); `dropDuplicatesWithinWatermark` keys the state
    * by the same columns but expires entries once they age past the
    * watermark — the shape that holds on an unbounded feed. */
  def distinctUsersPerWindow(events: DataFrame): DataFrame =
    events
      .select("ts", "user_id", "event_type") // project-early: see windowedCounts
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("distinct_users"))

  /** Stream-static enrichment: the event stream joined to a static
    * dimension (customer) — the standard "decorate a feed with reference
    * data" shape. The static side is re-planned per micro-batch (so dim
    * refreshes are picked up) and joins broadcast under AQE; no state is
    * kept for the static side, so this composes with watermarked aggs.
    * Output: per-nation event counts over the enriched stream. */
  def enrichedCountsByNation(events: DataFrame, customer: DataFrame,
      nation: DataFrame): DataFrame =
    events
      .select("ts", "user_id") // project-early: see windowedCounts
      .withWatermark("ts", "1 hour")
      .join(customer, col("user_id") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"))

  /** NATIVE session windows over the stream: gap-merged per-user sessions
    * as a first-class grouping (the state-backed form of the batch
    * `st5_session_window` query). The watermark both bounds the session
    * state and finalizes sessions once no event can extend them — the
    * shape that holds on an unbounded feed where the lag-window batch
    * formulation (w3) cannot run at all. */
  def sessionWindowStats(events: DataFrame, gap: String = "10 minutes"): DataFrame =
    events
      .select("ts", "user_id") // project-early: see windowedCounts
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))

  /** Stream-stream interval join (§2.10): correlate one feed with another
    * — here each event picks up the SAME user's events from the other
    * feed's trailing hour. Both sides are watermarked, so the join buffers
    * only watermark+interval of state per side (the bounded-state form of
    * a feed-to-feed correlation at 100 TB/day); matched pairs emit in
    * append mode once both rows have arrived. */
  def sameUserRecentPairs(left: DataFrame, right: DataFrame): DataFrame = {
    // project-early matters MOST here: a stream-stream join BUFFERS every
    // input column of both sides in the state store for the full
    // watermark+interval horizon — unprojected, each buffered left row
    // carried event_type/value/props (~100 B of JSON) that the join never
    // reads. State bytes are the measured cost of this operator at every
    // tier (commit_ms locally, RocksDB JNI probes at sf100), so a 3-col
    // buffer row is a direct multiplier on both.
    val a = left.select("event_id", "user_id", "ts").withWatermark("ts", "1 hour")
    val b = right
      .select(col("event_id").as("prior_event_id"),
        col("user_id").as("b_user_id"), col("ts").as("b_ts"))
      .withWatermark("b_ts", "1 hour")
    a.join(b,
        col("user_id") === col("b_user_id") &&
          col("prior_event_id") =!= col("event_id") &&
          col("b_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
          col("b_ts") <= col("ts"))
      .select(col("event_id"), col("prior_event_id"))
  }

  final case class Ev(user_id: Long, ts_us: Long)
  final case class SessionState(lastTsUs: Long, sessions: Long)
  final case class UserSessions(user_id: Long, n_sessions: Long)

  /** Custom streaming state (SURVEY §2.10 beyond-parity): per-user session
    * counting with `flatMapGroupsWithState` — a new session opens when the
    * gap since the last event exceeds `gapUs`. State is one (lastTs, count)
    * pair per user: bounded, timeout-evictable; this is the shape that
    * holds at 100 TB/day where a windowed-dedup would not express
    * gap-based sessions. */
  def sessionize(events: DataFrame, gapUs: Long = 3600L * 1000000): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[Ev]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSessions](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, evs, state: GroupState[SessionState]) =>
          // events within a micro-batch arrive unordered: sort this group
          val sorted = evs.toSeq.sortBy(_.ts_us)
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
          sorted.foreach { e =>
            if (st.lastTsUs == Long.MinValue || e.ts_us - st.lastTsUs > gapUs)
              st = SessionState(e.ts_us, st.sessions + 1)
            else st = SessionState(e.ts_us, st.sessions)
          }
          state.update(st)
          Iterator(UserSessions(uid, st.sessions))
      }.toDF()
  }
}
