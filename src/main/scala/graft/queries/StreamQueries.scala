package graft.queries

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.{GQuery, Tables}
import graft.streaming.Streams

/** Structured Streaming entries in the driver correctness gate: each query
  * runs a real `readStream` → transform → `writeStream` pipeline to
  * completion (Trigger.AvailableNow over a staged multi-file parquet
  * directory, so the data arrives in genuine micro-batches), then returns
  * the sink contents for the DuckDB oracle to check against the equivalent
  * batch SQL — proving the streaming operators converge to batch semantics.
  *
  * The memory sink stands in for the production sink; everything upstream
  * of the sink (source splits, watermarking, state store, output modes) is
  * the same machinery a kafka→delta deployment would run.
  */
object StreamQueries {

  private val runId = new AtomicInteger(0)
  private val lock = new Object
  /** Shuffle (= state) partitions of a drain: see [[drain]]. */
  private val DrainParts = 8

  /** Stage the events table as a multi-file parquet dir (micro-batch
    * splits), plus a copy with injected duplicate rows for the dedup
    * pipeline. Idempotent per scale factor via `_SUCCESS`. */
  private def stage(s: SparkSession, sfDir: String): (String, String) =
    lock.synchronized {
      val sfName = new File(sfDir).getName
      val base = new File(new File(sys.props("user.dir"), "target/graft-stream"), sfName)
      val evDir = new File(base, "events")
      val dupDir = new File(base, "events_dup")
      // marker written after ALL fixtures: checking the first directory's
      // _SUCCESS would latch a half-staged state if a run died mid-way
      // (v2: adds the documents fixture for the streaming curation gate;
      //  v3: adds the ascending time-slab fixture for the rolling-anomaly
      //  gate — eight files whose ts ranges are disjoint and whose mtimes
      //  ascend, so oldest-first admission replays the stream in event-
      //  time order like a per-key-ordered kafka partition would)
      val marker = new File(base, "_STAGED_v3")
      if (!marker.isFile) {
        val ev = Tables.load(s, sfDir, "events")
        ev.repartition(8).write.mode("overwrite").parquet(evDir.getPath)
        // replays: every 97th event appears twice (deterministic, ~1%)
        ev.union(ev.filter(col("event_id") % 97 === 0))
          .repartition(8).write.mode("overwrite").parquet(dupDir.getPath)
        // tiny fixture for the streaming-engine warmup pipeline
        ev.limit(1000).repartition(1).write.mode("overwrite")
          .parquet(new File(base, "events_mini").getPath)
        Tables.load(s, sfDir, "documents").repartition(8)
          .write.mode("overwrite").parquet(new File(base, "documents").getPath)
        // time slabs: ntile(8) over (ts, event_id), written SEQUENTIALLY
        // so file modification times ascend with event time (staging-only
        // global window — runs once per scale, not per query)
        val byTime = new File(base, "events_bytime")
        // append-mode slab writes: a half-staged prior attempt must not
        // leave stale files behind the new ones
        def rmrf(f: File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rmrf)
          f.delete(): Unit
        }
        if (byTime.exists()) rmrf(byTime)
        byTime.mkdirs()
        val slabbed = ev.withColumn("slab",
          org.apache.spark.sql.functions.ntile(8).over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("ts"), col("event_id"))))
        // admission order is by file mtime: stamp each slab's files
        // EXPLICITLY 2s apart rather than trusting write-time spacing —
        // a second-granularity filesystem would otherwise tie several
        // slabs and replay them in arbitrary path order
        val stamped = scala.collection.mutable.Set.empty[String]
        val t0 = ((System.currentTimeMillis() / 1000) - 60) * 1000
        (1 to 8).foreach { i =>
          slabbed.filter(col("slab") === i).drop("slab").coalesce(1)
            .write.mode("append").parquet(byTime.getPath)
          byTime.listFiles().foreach { f =>
            if (f.getName.endsWith(".parquet") && stamped.add(f.getName)) {
              f.setLastModified(t0 + i * 2000L): Unit
            }
          }
        }
        marker.createNewFile()
      }
      (evDir.getPath, dupDir.getPath)
    }

  private def byTimeDir(s: SparkSession, sfDir: String): String = {
    stage(s, sfDir)
    new File(new File(new File(sys.props("user.dir"), "target/graft-stream"),
      new File(sfDir).getName), "events_bytime").getPath
  }

  private def docsDir(s: SparkSession, sfDir: String): String = {
    stage(s, sfDir)
    new File(new File(new File(sys.props("user.dir"), "target/graft-stream"),
      new File(sfDir).getName), "documents").getPath
  }

  private def readEvents(s: SparkSession, dir: String): DataFrame = {
    val schema = s.read.parquet(dir).schema
    s.readStream.schema(schema).parquet(dir)
  }

  /** Drain a streaming DataFrame into a memory sink and return the sink
    * table (AvailableNow processes every staged file, then terminates).
    *
    * State sizing: a streaming job's state partition count is a deliberate
    * deployment choice (fixed at the first checkpoint); these pipelines
    * key their state by event_type/event_id with at most O(100k) live
    * entries, so 8 state partitions beat the batch-side 32 — and the
    * no-data finalization batch is skipped unless the query *emits on
    * watermark advance* (append-mode windowed aggregation sets
    * `noData = true` so the final watermark bump closes windows; dedup and
    * complete-mode aggregation don't need it). Both confs are restored
    * after the drain. */
  private def drain(df: DataFrame, mode: String, noData: Boolean = false): DataFrame = {
    val s = df.sparkSession
    val name = s"graft_stream_sink_${runId.incrementAndGet()}"
    val oldParts = s.conf.get("spark.sql.shuffle.partitions")
    val oldNoData = s.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    s.conf.set("spark.sql.shuffle.partitions", DrainParts.toString)
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", noData.toString)
    try {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", oldParts)
      oldNoData match {
        case Some(v) => s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v)
        case None => s.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
    s.table(name)
  }

  /** Drain a stateful stream to COMPLETION, including null rows the
    * outer-join state sweep only emits one batch behind the watermark.
    *
    * Single-run shape (round 9): a far-future sentinel event (max(ts)+2h)
    * is staged BEFORE the run; oldest-first file admission with
    * maxFilesPerTrigger = #real-files puts all real data in batch 0 and
    * the sentinel alone in batch 1. Batch 1 sweeps with the real data's
    * final watermark (the sweep is one batch stale, so batch 0 could
    * not), and the closing NO-DATA micro-batch — which AvailableNow runs
    * before stopping precisely for state cleanup — applies the sentinel-
    * advanced watermark, past every trigger's interval end, so ALL
    * remaining unmatched state evicts and emits. One query start: the
    * earlier two-restart drain paid a full checkpoint state reload +
    * re-snapshot (~4s at sf0.1) for the same sweep (an A/B in round 9
    * found the two drains' outputs bit-identical).
    *
    * This is the production "drain a stream" barrier pattern (kafka
    * deployments post a terminating tombstone for the same reason). The
    * sentinel uses user_id = -1 (matches nothing) but MUST carry the
    * trigger event_type: the trigger side filters by type BEFORE its
    * watermark node, and the global watermark is the MIN across watermark
    * operators — a sentinel that gets filtered off one side would pin the
    * watermark forever. Sentinel-origin rows (negative ids) are filtered
    * from the result. */
  private def drainWithFinalSweep(
      s: SparkSession, evDir: String, sentinelType: String)(
      build: DataFrame => DataFrame): DataFrame = {
    val work = new File(new File(sys.props("user.dir"), "target/graft-stream"),
      s"final-sweep-${java.util.UUID.randomUUID().toString.take(8)}")
    val dataDir = new File(work, "data"); dataDir.mkdirs()
    val schema = s.read.parquet(evDir).schema
    // hard-link the staged files (same fs) so sentinels never pollute the
    // shared fixture; copy fallback for filesystems without links
    new File(evDir).listFiles().filter(f => f.isFile && !f.getName.startsWith(".")
        && !f.getName.startsWith("_")).foreach { f =>
      val dst = new File(dataDir, f.getName).toPath
      try java.nio.file.Files.createLink(dst, f.toPath)
      catch {
        case _: Exception =>
          java.nio.file.Files.copy(f.toPath, dst)
          // the single-run drain ORDERS batches by mtime (old real files,
          // then the just-written sentinel); a copy stamps NOW, which
          // could tie with the sentinel — restore the source's mtime so
          // the fallback keeps the same admission order as the link path
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.Files.getLastModifiedTime(f.toPath))
      }
    }
    val outDir = new File(work, "out")
    val ckpt = new File(work, "ckpt")
    val oldParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", DrainParts.toString)
    try {
      val nReal = dataDir.listFiles().count(_.isFile)
      // the sentinel, written now, is the newest file: it lands alone in
      // batch 1 behind the nReal (older) real files of batch 0
      val maxTs = s.read.parquet(evDir).agg(max("ts")).head().getTimestamp(0)
      val sentinel = org.apache.spark.sql.Row(-3L,
        java.sql.Timestamp.from(maxTs.toInstant.plusSeconds(2 * 3600)),
        -1L, sentinelType, 0.0, null)
      s.createDataFrame(java.util.List.of(sentinel), schema)
        .repartition(1).write.mode("append").parquet(dataDir.getPath)
      build(s.readStream.schema(schema).option("maxFilesPerTrigger", nReal)
          .parquet(dataDir.getPath))
        .writeStream.format("parquet")
        .option("path", outDir.getPath)
        .option("checkpointLocation", ckpt.getPath)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      s.read.parquet(outDir.getPath).filter(col("trigger_id") >= 0)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", oldParts)
    }
  }

  /** Pre-stage the streaming fixtures and initialize the streaming engine
    * (used by Bench's unmeasured warmup: fixture staging, state-store
    * classloading and stateful-plan codegen are session setup, not
    * per-query work — the first stateful streaming execution in a session
    * otherwise pays ~3s of one-time init). */
  def prewarm(s: SparkSession, sfDir: String): Unit = {
    stage(s, sfDir)
    val mini = new File(new File(
      new File(sys.props("user.dir"), "target/graft-stream"),
      new File(sfDir).getName), "events_mini").getPath
    drain(Streams.dedupEvents(readEvents(s, mini), "366 days"), "append")
  }

  val queries: Seq[GQuery] = Seq(

    // Event-time tumbling windows through a real streaming pipeline; the
    // oracle is the equivalent batch aggregation — window(ts,'1 hour')
    // and date_trunc('hour', ts) align identically on epoch hours.
    GQuery(
      "q_stream_window",
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       count(*) AS n_events,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
      val (evDir, _) = stage(s, d)
      val agg = Streams.windowedCounts(readEvents(s, evDir), "1 hour", "10 minutes")
      // Complete mode emits every window's final state once the last
      // micro-batch lands — the convergence point a batch query computes.
      drain(agg, "complete").orderBy("window_start", "event_type")
    },

    // Append-mode windowed aggregation: a window row is emitted ONLY when
    // the watermark passes its end and its state is evicted — the
    // eviction path that keeps a week-long streaming uptime at O(open
    // windows) state, which complete mode (above) never exercises. The
    // final no-data micro-batch advances the watermark to max(ts) - delay,
    // closing every window whose end <= that; the oracle restricts the
    // batch aggregation to exactly those closed windows. Windows still
    // open at shutdown are (correctly) unemitted.
    GQuery(
      "q_stream_append",
      """WITH wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS w FROM events)
        |SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       count(*) AS n_events,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE) AS total_value
        |FROM events, wm
        |WHERE date_trunc('hour', ts) + INTERVAL '1 hour' <= wm.w
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
      val (evDir, _) = stage(s, d)
      val agg = Streams.windowedCounts(readEvents(s, evDir), "1 hour", "10 minutes")
      drain(agg, "append", noData = true).orderBy("window_start", "event_type")
    },

    // Sliding (hopping) windows: 1-hour windows every 30 minutes, so each
    // event contributes to exactly two windows — which the oracle states
    // literally by unnesting the two window starts per event.
    GQuery(
      "q_stream_sliding",
      """SELECT w AS window_start, event_type, count(*) AS n_events,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE) AS total_value
        |FROM (SELECT event_type, value,
        |             unnest([time_bucket(INTERVAL '30 minutes', ts),
        |                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS w
        |      FROM events) t
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin) { (s, d) =>
      val (evDir, _) = stage(s, d)
      val agg = Streams.slidingCounts(
        readEvents(s, evDir), "1 hour", "30 minutes", "10 minutes")
      drain(agg, "complete").orderBy("window_start", "event_type")
    },

    // Stream-static enrichment: events stream ⨝ broadcast customer
    // dimension (stateless per micro-batch), aggregated per market
    // segment inside the stream so the sink holds the final rollup.
    GQuery(
      "q_stream_enrich",
      """SELECT c.c_mktsegment, count(*) AS n_events,
        |       CAST(round(sum(CAST(e.value AS DECIMAL(18,2))), 4) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c.c_mktsegment
        |ORDER BY c.c_mktsegment""".stripMargin) { (s, d) =>
      val (evDir, _) = stage(s, d)
      val cust = Tables.load(s, d, "customer")
      val joined = Streams.enrichWithDim(
        readEvents(s, evDir), cust, col("user_id") === col("c_custkey"))
      val agg = joined.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,2)")), 4)
            .cast("double").as("total_value"))
      drain(agg, "complete").orderBy("c_mktsegment")
    },

    // Gap-based session windows (native session_window state merge); the
    // oracle derives the same sessions with gaps-and-islands SQL: a break
    // starts whenever the gap to the previous event is >= 30 minutes
    // (session_window ends are exclusive at start + gap).
    GQuery(
      "q_stream_sessions",
      """WITH x AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT user_id, ts, value,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT min(ts) AS session_start, user_id,
        |       count(*) AS n_events,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE) AS total_value
        |FROM y GROUP BY user_id, sid
        |ORDER BY session_start, user_id""".stripMargin) { (s, d) =>
      val (evDir, _) = stage(s, d)
      val agg = Streams.sessionWindows(readEvents(s, evDir), "30 minutes", "10 minutes")
      drain(agg, "complete").orderBy("session_start", "user_id")
    },

    // Append-mode session windows: a session row is emitted only when the
    // watermark passes its END (last event + gap) and its merged state is
    // evicted — the trickiest stateful path (session-state MERGE plus
    // eviction), which the complete-mode gate above never exercises. The
    // final no-data batch advances the watermark to max(ts) - delay; the
    // oracle keeps exactly the sessions whose end clears that line.
    GQuery(
      "q_stream_sessions_append",
      """WITH wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS w FROM events),
        |x AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER win IS NULL
        |                OR ts - lag(ts) OVER win >= INTERVAL '30 minutes'
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT user_id, ts, value,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT min(ts) AS session_start, user_id,
        |       count(*) AS n_events,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE) AS total_value
        |FROM y, wm
        |GROUP BY user_id, sid, wm.w
        |HAVING max(ts) + INTERVAL '30 minutes' <= wm.w
        |ORDER BY session_start, user_id""".stripMargin) { (s, d) =>
      val (evDir, _) = stage(s, d)
      val agg = Streams.sessionWindows(readEvents(s, evDir), "30 minutes", "10 minutes")
      drain(agg, "append", noData = true).orderBy("session_start", "user_id")
    },

    // Stream-stream interval join: click events joined to the same user's
    // follow-up events within 10 minutes, both sides watermarked so join
    // state stays bounded (see Streams.followWithin). Inner-join matches
    // emit eagerly, so the sink equals the batch interval join.
    GQuery(
      "q_stream_interval_join",
      """SELECT a.event_id AS trigger_id, b.event_id AS follow_id,
        |       a.user_id, b.event_type AS follow_type, b.value AS follow_value
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND b.ts > a.ts
        | AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |WHERE a.event_type = 'click'
        |ORDER BY trigger_id, follow_id""".stripMargin) { (s, d) =>
      val (evDir, _) = stage(s, d)
      val pairs = Streams.followWithin(
        readEvents(s, evDir), readEvents(s, evDir),
        "click", "10 MINUTES", "10 minutes")
      drain(pairs, "append")
        .select(col("trigger_id"), col("follow_id"),
          col("t_user").as("user_id"), col("follow_type"),
          col("value").as("follow_value"))
        .orderBy("trigger_id", "follow_id")
    },

    // LEFT-OUTER stream-stream interval join: matches emit eagerly like
    // the inner join; a trigger whose match interval falls fully behind
    // the watermark with NO match emits once with null follow columns —
    // the state-eviction path that distinguishes outer from inner.
    //
    // FINAL-WATERMARK sweep (closes the round-7 staleness caveat): the
    // engine's null-emission sweep runs one batch behind the watermark,
    // so a plain drain leaves triggers near the stream end unswept. The
    // production drain pattern is a terminating sentinel: a far-future
    // barrier event processed as its own final micro-batch — it sweeps
    // with the real data's final watermark, and the closing no-data
    // batch applies the sentinel-advanced watermark, which is past
    // every trigger's interval end. After the sentinel drain the
    // operator's contract holds EXACTLY: every unmatched trigger has
    // emitted its null row, and the oracle asserts all of them with no
    // exclusion frontier. (Implemented with a checkpointed parquet sink
    // — restarts resume state; the memory sink cannot recover in append
    // mode.)
    GQuery(
      "q_stream_interval_join_outer",
      """WITH m AS (
        |  SELECT a.event_id AS trigger_id, a.ts AS a_ts,
        |         b.event_id AS follow_id, a.user_id,
        |         b.event_type AS follow_type, b.value AS follow_value
        |  FROM events a JOIN events b
        |    ON a.user_id = b.user_id AND b.ts > a.ts
        |   AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |  WHERE a.event_type = 'click')
        |SELECT trigger_id, follow_id, user_id, follow_type, follow_value
        |FROM m
        |UNION ALL
        |SELECT a.event_id, CAST(NULL AS BIGINT), a.user_id,
        |       CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
        |FROM events a
        |WHERE a.event_type = 'click'
        |  AND NOT EXISTS (SELECT 1 FROM m WHERE m.trigger_id = a.event_id)
        |ORDER BY trigger_id, follow_id NULLS FIRST""".stripMargin) { (s, d) =>
      val (evDir, _) = stage(s, d)
      drainWithFinalSweep(s, evDir, "click") { ev =>
        Streams.followWithin(ev, ev, "click", "10 MINUTES", "10 minutes",
          joinType = "leftOuter")
      }
        .select(col("trigger_id"), col("follow_id"),
          col("t_user").as("user_id"), col("follow_type"),
          col("value").as("follow_value"))
        .orderBy(col("trigger_id"), col("follow_id").asc_nulls_first)
    },

    // Streaming dedup over a feed with ~1% injected replays: the pipeline
    // must restore exactly the original events, so the oracle aggregates
    // the clean batch table.
    GQuery(
      "q_stream_dedup",
      """SELECT event_type, count(*) AS n,
        |       CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val (_, dupDir) = stage(s, d)
      // 366-day horizon >> the fixture's span: every replay lands inside
      // the dedup state window, whichever micro-batch it arrives in.
      val deduped = Streams.dedupEvents(readEvents(s, dupDir), "366 days")
      drain(deduped, "append")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"),
          round(sum(col("value").cast("decimal(18,2)")), 4)
            .cast("double").as("total_value"))
        .orderBy("event_type")
    },

    // Bounded-state streaming dedup (dropDuplicatesWithinWatermark): same
    // replay fixture and oracle as q_stream_dedup, but the state store
    // EVICTS ids as the watermark passes them — the production dedup for
    // infinite key domains, where plain dropDuplicates would grow state
    // forever. Replays carry the original event's timestamp, so they
    // dedup deterministically at a short horizon while state stays
    // O(events inside 30 minutes).
    GQuery(
      "q_stream_dedup_bounded",
      """SELECT event_type, count(*) AS n,
        |       CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val (_, dupDir) = stage(s, d)
      val deduped = Streams.dedupEventsBounded(readEvents(s, dupDir), "30 minutes")
      drain(deduped, "append")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"),
          round(sum(col("value").cast("decimal(18,2)")), 4)
            .cast("double").as("total_value"))
        .orderBy("event_type")
    },

    // Streaming rolling anomaly detection via flatMapGroupsWithState —
    // the first gate through the CUSTOM-state escape hatch (sessionize's
    // machinery, here with a bounded per-user buffer): each user's last
    // ten values ride the state store across eight time-ordered
    // micro-batches (one slab file per trigger), and the emitted flags
    // must equal the batch q_events_anomaly window bit for bit. That
    // equivalence is the contract that lets one anomaly rule serve both
    // the backfill and the live feed.
    GQuery(
      "q_stream_anomaly",
      """WITH c AS (
        |  SELECT event_id, user_id, ts,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |w AS (
        |  SELECT event_id, user_id, cents,
        |         CAST(count(*) OVER win AS BIGINT) AS n,
        |         CAST(coalesce(sum(cents) OVER win, 0) AS BIGINT) AS s,
        |         CAST(coalesce(sum(cents * cents) OVER win, 0) AS BIGINT) AS ss
        |  FROM c
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, cents, n,
        |       n >= 5 AND (n * cents - s) * (n * cents - s) > 9 * (n * ss - s * s)
        |         AS is_anomaly
        |FROM w ORDER BY event_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val dir = byTimeDir(s, d)
      val schema = s.read.parquet(dir).schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .as[graft.streaming.Streams.Event]
      drain(graft.streaming.Streams.rollingAnomaly(src).toDF(), "append")
        .orderBy("event_id")
    },

    // Streaming ingest THROUGH the connector: foreachBatch appends each
    // micro-batch to a graft catalog table via the DSv2 write path (task
    // temp files + driver-rename commit per batch), then the gate reads
    // the table back through the connector — the readStream → transform →
    // durable-sink shape of a production ingest, with the engine's own
    // table as the sink instead of the memory stand-in.
    GQuery(
      "q_stream_ingest",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val (evDir, _) = stage(s, d)
      graft.sources.FedData.ensure(s, d)
      val t = "graft.fed.stream_ingest"
      s.sql(s"DROP TABLE IF EXISTS $t")
      s.sql(s"CREATE TABLE $t (event_id BIGINT, event_type STRING, value DOUBLE)")
      val q = readEvents(s, evDir)
        .select(col("event_id"), col("event_type"), col("value"))
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.writeTo(t).append()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(t)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,2)")), 4)
            .cast("double").as("total_value"))
        .orderBy("event_type")
    },

    // Streaming FROM the connector (the read half of q_stream_ingest's
    // loop): the engine's own tables are streaming sources — new part
    // files are the stream, offsets are exactly-once at file granularity
    // (sources/FileMicroBatch.scala). The staged CSV table drains through
    // a real readStream and must aggregate to the batch oracle over the
    // parquet original.
    GQuery(
      "q_stream_from_connector",
      """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_nations,
        |       CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin) { (s, d) =>
      graft.sources.FedData.ensure(s, d)
      val src = s.readStream.table(
        s"graft.${graft.sources.FedData.SourceName}.nation_csv")
      drain(src.groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_nations"),
          sum("n_nationkey").as("key_sum")), "complete")
        .orderBy("n_regionkey")
    },

    // Streaming curation: the SAME redaction + quality-filter transform
    // the batch pipeline runs (Curation.redact + the integer-space quality
    // threshold), applied to a documents stream in append mode. Stateless
    // map/filter — no watermark or state store — so the streaming output
    // is row-identical to the batch oracle: the property that lets one
    // curation codebase serve both the backfill and the live feed.
    GQuery(
      "q_stream_curate", {
        val en = Pipeline.En.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH red AS (
           |  SELECT doc_id, lang,
           |         lower(regexp_replace(regexp_replace(regexp_replace(lower(text),
           |           '${Curation.EmailRe}', '${Curation.Mask}', 'g'),
           |           '${Curation.Ipv4Re}', '${Curation.Mask}', 'g'),
           |           '${Curation.BlockRe}', '${Curation.Mask}', 'g')) AS t,
           |         CAST(len(regexp_extract_all(lower(text), '${Curation.BlockRe}')) AS BIGINT) AS n_blocked
           |  FROM documents),
           |st AS (
           |  SELECT doc_id, lang, n_blocked,
           |         CAST(len(toks) AS BIGINT) AS nt,
           |         CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sl,
           |         CAST(len(list_filter(toks, x -> list_contains($en, x))) AS BIGINT) AS ns
           |  FROM (SELECT doc_id, lang, n_blocked,
           |          list_filter(regexp_split_to_array(t, '\\s+'), x -> x <> '') AS toks
           |        FROM red) tr)
           |SELECT doc_id, lang, n_blocked, nt AS n_tokens
           |FROM st
           |WHERE 2*nt*least(nt, 50) + 60*ns + 5*least(sl, 8*nt) >= 120*nt
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val dir = docsDir(s, d)
      val schema = s.read.parquet(dir).schema
      val stream = s.readStream.schema(schema).parquet(dir)
      val (_, _, nb, scrubbed) = Curation.redact(col("text"))
      val en = typedLit(Pipeline.En)
      val toks = filter(split(lower(col("t")), "\\s+"), x => x =!= "")
      val curated = stream
        .select(col("doc_id"), col("lang"), scrubbed.as("t"),
          nb.as("n_blocked"))
        .withColumn("toks", toks)
        .withColumn("nt", size(col("toks")).cast("long"))
        .withColumn("sl",
          aggregate(transform(col("toks"), t => length(t)), lit(0),
            (acc, x) => acc + x).cast("long"))
        .withColumn("ns",
          size(filter(col("toks"), t => array_contains(en, t))).cast("long"))
        .filter(lit(2) * col("nt") * least(col("nt"), lit(50L)) +
          lit(60) * col("ns") + lit(5) * least(col("sl"), lit(8) * col("nt")) >=
          lit(120) * col("nt"))
        .select(col("doc_id"), col("lang"), col("n_blocked"),
          col("nt").as("n_tokens"))
      drain(curated, "append").orderBy("doc_id")
    },

    // Streaming decontamination with the bloom prefilter: the live-feed
    // twin of q_curation_bloom_decontam. The eval-set index (bloom bytes
    // + the exact hash table) is STATIC reference data built batch-side;
    // the document stream explodes to grams, the codegen'd bloom probe
    // prunes inside the stream BEFORE the stream-static confirm join
    // (stateless — no state store, the static side broadcasts), and only
    // the per-doc count is stateful (complete-mode agg keyed by the
    // contaminated docs only, because clean docs never survive the
    // join). At 100 TB of daily feed this is the shape that works: the
    // bloom drops ~all gram rows in the stateless stage, so state is
    // bounded by true contamination, not traffic.
    GQuery(
      "q_stream_bloom_decontam",
      s"""WITH
         |${OracleFragments.tok},
         |${OracleFragments.shingle3},
         |shr AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |hh AS (
         |  SELECT doc_id,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(range(1, length(s)+1), i -> CAST(unicode(s[i]) AS BIGINT))),
         |           (a,cp) -> (a*31+cp) % ${OracleFragments.P}) AS h
         |  FROM shr),
         |hd AS (SELECT DISTINCT doc_id, h FROM hh),
         |ev AS (SELECT DISTINCT h FROM hd WHERE doc_id % 97 = 0),
         |ns AS (
         |  SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM hd d JOIN ev e USING (h)
         |  WHERE d.doc_id % 97 <> 0
         |  GROUP BY d.doc_id)
         |SELECT doc_id, n_shared,
         |       CAST(n_shared >= 10 AS BIGINT) AS contaminated
         |FROM ns ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.functions.HashFunctions
      HashFunctions.ensure(s)
      val dir = docsDir(s, d)
      val batch = s.read.parquet(dir)
      val evSets = batch.filter(col("doc_id") % 97 === 0)
        .select(explode_outer(array_distinct(
          HashFunctions.shingle_hashes(col("text"), 3))).as("h"))
        .filter(col("h").isNotNull).distinct()
      val bloom = evSets.agg(
        HashFunctions.bloom_build(col("h"), 1L << 20, 7).as("b"))
        .collect()(0).getAs[Array[Byte]](0)
      val stream = s.readStream.schema(batch.schema).parquet(dir)
      val confirmed = stream
        .filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), explode_outer(array_distinct(
          HashFunctions.shingle_hashes(col("text"), 3))).as("h"))
        .filter(col("h").isNotNull &&
          HashFunctions.bloom_contains(lit(bloom), col("h")))
        .join(broadcast(evSets), Seq("h"), "inner")
      drain(confirmed.groupBy("doc_id").agg(count(lit(1)).as("n_shared")),
          "complete")
        .select(col("doc_id"), col("n_shared"),
          (col("n_shared") >= 10).cast("long").as("contaminated"))
        .orderBy("doc_id")
    }
  )
}
