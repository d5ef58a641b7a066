package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.profile.Profiler

import Shared._

/** Structured Streaming runs whose final state must equal the batch
  * answer, and the incremental (mergeable) profile and quantile
  * sketches. */
object StreamingQueries {

  /** inc_quantile_sketch: replay the HDR-style mergeable quantile sketch
    * over the FULL orders table (merge invariance makes the engine's
    * three-chunk path equivalent). Every step is exact integer: micro
    * floor-quantize, msb via bin() length, 32 sub-buckets per octave,
    * rank ceil(n·k/10), integer bucket midpoint; the single float op is
    * the closing /1e6.
    */
  private def quantileSketchSql: String = quantileSketchSql("orders")

  private def quantileSketchSql(tbl: String): String = {
    val numeric = lakeSchemas(tbl).zipWithIndex.collect {
      case ((c, "integer"), i) => s"SELECT $i AS ci, CAST($c AS DOUBLE) AS v FROM $tbl"
      case ((c, "float"), i)   => s"SELECT $i AS ci, CAST($c AS DOUBLE) AS v FROM $tbl"
      case ((c, "date"), i)    => s"SELECT $i AS ci, CAST(floor(epoch($c)) AS DOUBLE) AS v FROM $tbl"
    }
    s"""WITH vn AS (
       |  ${numeric.mkString("\n  UNION ALL ")}
       |),
       |qv AS (
       |  SELECT ci, least(greatest(CAST(floor(v * 1e6) AS BIGINT),
       |           -4611686018427387904), 4611686018427387904) AS q
       |  FROM vn WHERE v IS NOT NULL),
       |bi AS (
       |  SELECT ci, q, abs(q) AS a, length(bin(abs(q))) - 1 AS e FROM qv),
       |bk AS (
       |  SELECT ci,
       |    (CASE WHEN q < 0 THEN -1 ELSE 1 END) *
       |    (CASE WHEN a < 32 THEN a
       |          ELSE (CAST(e AS BIGINT) - 4) * 32 + (a >> (e - 5)) - 32 END) AS bucket
       |  FROM bi),
       |counts AS (SELECT ci, bucket, count(*) AS cnt FROM bk GROUP BY ci, bucket),
       |cum AS (
       |  SELECT ci, bucket, cnt,
       |    sum(cnt) OVER (PARTITION BY ci ORDER BY bucket) AS cum,
       |    sum(cnt) OVER (PARTITION BY ci) AS n
       |  FROM counts),
       |dk AS (
       |  SELECT ci, bucket, cnt, cum, n, k
       |  FROM cum CROSS JOIN (SELECT unnest(range(1, 10)) AS k)
       |  WHERE cum >= greatest((n * k + 9) // 10, 1)
       |    AND cum - cnt < greatest((n * k + 9) // 10, 1)),
       |est AS (
       |  SELECT ci, k, bucket, abs(bucket) AS idx,
       |    abs(bucket) >> 5 AS lvl
       |  FROM dk)
       |SELECT '$tbl' AS table_name, CAST(ci AS BIGINT) AS col_idx,
       |  CAST(k AS BIGINT) AS decile,
       |  CAST((CASE WHEN bucket < 0 THEN -1 ELSE 1 END) *
       |    (CASE WHEN idx < 64 THEN idx
       |          ELSE ((32 + (idx & 31)) << (lvl - 1))
       |               + (CAST(1 AS BIGINT) << (lvl - 2)) END) AS DOUBLE)
       |    / 1e6 AS est
       |FROM est ORDER BY col_idx, decile""".stripMargin
  }

  private def streamingProfile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.StringType
    val name = s"st_profile_${streamSeq.incrementAndGet()}"
    val schema = t(s, dir, "nation").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "nation.parquet").parquet(dir)
    val structs = schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      val v = // P2 empty→null, same rendering as Profiler.longFormat
        if (f.dataType == StringType) when(c === "", lit(null)).otherwise(c).cast("string")
        else c.cast("string")
      struct(lit(f.name).as("col_name"), v.as("value"))
    }
    val long = stream.select(explode(array(structs.toIndexedSeq: _*)).as("c")).select("c.*")
    runStreamNarrow(s)(graft.streaming.StreamingProfile.profileStream(long)
      .writeStream.format("memory").queryName(name)
      .outputMode("update").trigger(Trigger.AvailableNow()).start())
    s.table(name)
      .select(col("col_name"), col("rows").as("n_rows"), col("nulls").as("n_nulls"),
        array_join(col("digest"), ",").as("digest"))
      .orderBy("col_name")
  }

  /** st_stream_profile: the streamed profile of `nation` must equal the
    * batch profile over the same rows (lossless sketch merge), so its
    * oracle is just the batch computation. */
  private def streamProfileSql: String = {
    val selects = lakeSchemas("nation").map { case (c, lt) =>
      val render =
        if (lt == "string") s"nullif(CAST($c AS VARCHAR), '')"
        else s"CAST($c AS VARCHAR)"
      s"SELECT '$c' AS cn, $render AS v FROM nation"
    }
    s"""WITH $permsCte,
       |vals AS (
       |  ${selects.mkString("\n  UNION ALL ")}
       |),
       |stats AS (
       |  SELECT cn, count(*) AS n_rows, count(*) - count(v) AS n_nulls
       |  FROM vals GROUP BY cn),
       |dvals AS (SELECT DISTINCT cn, v FROM vals WHERE v IS NOT NULL),
       |mins AS (SELECT cn, pi, ${mhSlotMin("v")} AS mh
       |         FROM dvals CROSS JOIN perms GROUP BY cn, pi),
       |dig AS (SELECT cn, array_to_string(list(mh ORDER BY pi), ',') AS digest
       |        FROM mins GROUP BY cn)
       |SELECT cn AS col_name, stats.n_rows, stats.n_nulls, dig.digest
       |FROM stats JOIN dig USING (cn) ORDER BY col_name""".stripMargin
  }

  /** §2.12: Structured-Streaming profile of `nation`, driven to completion
    * with AvailableNow and read back from the memory sink. The MinHash
    * merge algebra makes the streamed profile EQUAL the batch profile over
    * the same rows, so this streaming query has an exact DuckDB oracle —
    * the strongest possible evidence the incremental path is lossless.
    */
  /** Streaming watermarked hourly rollup (the canonical readStream →
    * window agg → sink shape): the streamed per-hour event counts must
    * equal the batch date_trunc rollup — window(ts, 1h) is epoch-hour
    * aligned, counts are additive, so streamed == batch exactly. */
  private def streamingRateQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_rate_${streamSeq.incrementAndGet()}"
    val schema = t(s, dir, "events").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      // micros-NTZ → session-TZ (UTC) timestamp for the watermark clock
      .withColumn("ts", col("ts").cast("timestamp"))
    runStreamNarrow(s)(graft.streaming.StreamingProfile.hourlyEventCounts(stream)
      // back to NTZ so the parquet dump compares as a wall-clock hour
      .select(col("event_type"), col("h").cast("timestamp_ntz").as("h"), col("n"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    s.table(name).orderBy("event_type", "h")
  }

  /** st_stream_rate: the streamed watermarked hourly rollup must equal
    * the batch date_trunc rollup (epoch-hour-aligned windows, additive
    * counts). */
  private def streamRateSql: String =
    """SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
      |FROM events GROUP BY event_type, h
      |ORDER BY event_type, h""".stripMargin

  /** §2.12 streaming dedup: `dropDuplicatesWithinWatermark` over the
    * events stream, fingerprinting (user_id, event_type), horizon wider
    * than the dataset span — so the streamed output must keep EXACTLY one
    * row per distinct key. Per-key arrival order is not deterministic, so
    * the query reports kept-row COUNTS per event_type (arrival-invariant);
    * the oracle is the batch distinct count. Green iff streaming state
    * drops every duplicate and nothing else.
    */
  private def streamingDedupQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_dedup_${streamSeq.incrementAndGet()}"
    val raw = s.read.parquet(s"$dir/events.parquet").schema
    val stream = s.readStream.schema(raw)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      // micros-NTZ → session-TZ (UTC) timestamp for the watermark clock
      .withColumn("ts", col("ts").cast("timestamp"))
    val deduped = graft.streaming.StreamingDedup.dedupStream(
      stream, "ts", "3650 days", Seq("user_id", "event_type"))
    runStreamNarrow(s)(deduped.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start())
    s.table(name).groupBy("event_type")
      .agg(count(lit(1)).as("n_kept")).orderBy("event_type")
  }

  // streamed dedup must keep exactly one row per distinct fingerprint key
  private def streamingDedupSql: String =
    """SELECT event_type,
      |  count(DISTINCT coalesce(CAST(user_id AS VARCHAR), chr(2))) AS n_kept
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Incremental-maintenance path: profile supplier in two key-parity
    * chunks, merge, emit the mergeable fields. The oracle computes the
    * same profile from the FULL table — green iff chunked profiling is
    * indistinguishable from a from-scratch scan (the 100 TB append
    * story). HLL state is engine-internal and excluded here; its bound
    * is spec'd in IncrementalSpec.
    */
  private def incrementalMerge(s: SparkSession, dir: String): DataFrame = {
    val full = t(s, dir, "supplier")
    val chunks = Seq(full.filter(col("s_suppkey") % 2 === 0),
      full.filter(col("s_suppkey") % 2 === 1))
      .map(graft.profile.Incremental.profileChunk(_, "supplier"))
      .reduce(_ unionByName _)
    graft.profile.Incremental.merge(chunks)
      .select(col("table_name"), col("col_idx"), col("rows"), col("num_nan"),
        array_join(col("minhash_exact"), ",").as("mh_exact"),
        col("min_v"), col("max_v"))
      .orderBy("col_idx")
  }

  /** inc_profile_merge: the incremental path's merged profile must equal
    * this from-scratch computation over the FULL table (counts, digests,
    * numeric bounds per column). */
  private def incProfileMergeSql: String = {
    val selects = lakeSchemas("supplier").zipWithIndex.map { case ((c, lt), i) =>
      val strRender =
        if (lt == "string") s"nullif(CAST($c AS VARCHAR), '')"
        else s"CAST($c AS VARCHAR)"
      val numRender =
        if (lt == "integer" || lt == "float") s"CAST($c AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
      s"SELECT $i AS ci, $strRender AS v, $numRender AS vn FROM supplier"
    }
    s"""WITH $permsCte,
       |vals AS (
       |  ${selects.mkString("\n  UNION ALL ")}
       |),
       |stats AS (
       |  SELECT ci, count(*) AS n_rows, count(*) - count(v) AS num_nan,
       |         min(vn) AS min_v, max(vn) AS max_v
       |  FROM vals GROUP BY ci),
       |dvals AS (SELECT DISTINCT ci, v FROM vals WHERE v IS NOT NULL),
       |mins AS (SELECT ci, pi, ${mhSlotMin("v")} AS mh
       |         FROM dvals CROSS JOIN perms GROUP BY ci, pi),
       |dig AS (SELECT ci, array_to_string(list(mh ORDER BY pi), ',') AS mh_exact
       |        FROM mins GROUP BY ci)
       |SELECT 'supplier' AS table_name, CAST(ci AS BIGINT) AS col_idx,
       |  stats.n_rows AS "rows", stats.num_nan, dig.mh_exact,
       |  stats.min_v, stats.max_v
       |FROM stats JOIN dig USING (ci) ORDER BY col_idx""".stripMargin
  }

  /** Mergeable quantile sketch (HDR-style exponential histogram over
    * micro-quantized values — the incremental/streaming answer to the
    * 13-vector's nine exact quantiles, `data_prep.py:234-244`): chunk
    * orders three ways by key parity, sketch each chunk, merge, read
    * the deciles back. The oracle replays the IDENTICAL integer bucket
    * arithmetic over the FULL table — green iff chunked sketching is
    * indistinguishable from from-scratch (merge invariance) AND the
    * bucket/midpoint math matches bit-for-bit.
    */
  private def quantileSketchQ(s: SparkSession, dir: String): DataFrame = {
    import graft.profile.QuantileSketch
    val full = t(s, dir, "orders")
    val chunks = (0 to 2).map(r => QuantileSketch.sketchChunk(
      full.filter(pmod(col("o_orderkey"), lit(3)) === r), "orders"))
      .reduce(_ unionByName _)
    QuantileSketch.deciles(QuantileSketch.merge(chunks))
      .orderBy("col_idx", "decile")
  }

  /** Streaming mergeable quantiles: the HDR bucket counts are additive,
    * so a plain streaming aggregation in Complete mode IS the sketch —
    * the streamed state must equal the batch sketch (merge algebra), so
    * the oracle recomputes the deciles from the full table directly.
    */
  private def streamingQuantilesQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_qsk_${streamSeq.incrementAndGet()}"
    val schema = s.read.parquet(s"$dir/lineitem.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "lineitem.parquet").parquet(dir)
    val long = Profiler.longFormat(widenStream(stream))
      .withColumn("table_name", lit("lineitem"))
    runStreamNarrow(s)(graft.streaming.StreamingProfile.quantileSketchStream(long)
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    graft.profile.QuantileSketch.deciles(s.table(name))
      .orderBy("col_idx", "decile")
  }

  /** §2.12 streaming CDC apply: the events changelog (delete when
    * event_id % 7 == 0) streams in as 4 files, one micro-batch each
    * (maxFilesPerTrigger=1) in ARBITRARY key order; each batch folds
    * into the running state via
    * [[graft.operators.Merge.upsertLww]] — commutative and associative,
    * so ANY batch split converges to the one-shot compaction, and
    * tombstones persist so a late-arriving older upsert cannot
    * resurrect a delete. The oracle replays the one-shot latest-per-key
    * compaction over all events. */
  private def streamingUpsertQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_upsert_${streamSeq.incrementAndGet()}"
    val srcDir = s"/tmp/graft_fixtures/st_upsert_${math.abs(dir.hashCode)}/src"
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        col("value").cast("double").as("value"))
      .withColumn("op",
        when(col("event_id") % 7 === 0, lit("delete")).otherwise(lit("upsert")))
    ev.repartition(4).write.mode("overwrite").parquet(srcDir)
    val schema = s.read.parquet(srcDir).schema
    var state = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        state = graft.operators.Merge.upsertLww(state, batch,
          Seq("user_id", "event_type"), Seq("ts", "event_id"))
          .localCheckpoint(true)
        ()
      }
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    graft.operators.Merge.liveView(state)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("user_id")).as("user_checksum"),
        sum(col("event_id")).as("event_checksum"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
      .orderBy("event_type")
  }

  // st_stream_upsert: micro-batched LWW folds must equal the one-shot
  // latest-per-key compaction (tombstones excluded from the live view)
  private def streamingUpsertSql: String =
    """WITH ev AS (SELECT user_id, event_type, ts, event_id,
      |    CAST(value AS DOUBLE) AS value,
      |    CASE WHEN event_id % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op
      |  FROM events),
      |w AS (SELECT * FROM ev
      |  QUALIFY row_number() OVER (PARTITION BY user_id, event_type
      |    ORDER BY ts DESC, event_id DESC) = 1)
      |SELECT event_type, count(*) AS n_keys,
      |  CAST(sum(user_id) AS BIGINT) AS user_checksum,
      |  CAST(sum(event_id) AS BIGINT) AS event_checksum,
      |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM w WHERE op <> 'delete' GROUP BY 1 ORDER BY 1""".stripMargin

  /** §2.12 streaming sessionization: gap-based `session_window` over the
    * events stream — the streamed sessions must equal the batch islands
    * (`e_sessionize` semantics at microsecond precision: a gap ≥ 30 min
    * closes the session). Append mode emits a session only when the
    * watermark passes its close, and a finite file stream's watermark
    * stops at max(ts) − delay — so the staged input carries a far-future
    * SENTINEL row that pushes the final watermark past every real
    * session; the sentinel's own session is filtered out by user_id.
    * The oracle recomputes the same sessions relationally from the full
    * table — green iff incremental session merging is indistinguishable
    * from batch. Checksum pins every session BOUNDARY (sum of session
    * start micros), not just counts.
    */
  private def streamingSessionsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val name = s"st_sess_${streamSeq.incrementAndGet()}"
    val stage = Paths.get(s"/tmp/graft_fixtures/st_sessions_${math.abs(dir.hashCode)}")
    Files.createDirectories(stage)
    Files.copy(Paths.get(dir, "events.parquet"),
      stage.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batch = s.read.parquet(s"$dir/events.parquet")
    val sentinelOut = s"/tmp/graft_fixtures/st_sessions_sentinel_${math.abs(dir.hashCode)}"
    batch.agg(max(col("ts")).as("__mx"))
      .select(lit(-1L).as("event_id"),
        (col("__mx") + expr("interval 30 days")).as("ts"),
        lit(-1L).as("user_id"), lit("__sentinel").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(sentinelOut)
    val part = Files.list(Paths.get(sentinelOut)).iterator()
    var copied = false
    while (part.hasNext && !copied) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) {
        Files.copy(p, stage.resolve("zz_sentinel.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        copied = true
      }
    }
    require(copied, "sentinel parquet part not found")
    val stream = s.readStream.schema(batch.schema)
      .option("pathGlobFilter", "*.parquet").parquet(stage.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val sess = graft.streaming.StreamingProfile.sessionWindows(
      stream, "30 minutes", "1 hour")
    runStreamNarrow(s)(sess.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start())
    s.table(name).filter(col("user_id") >= 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_session_events"),
        sum(unix_micros(col("session_start"))).as("start_checksum"))
      .orderBy("user_id")
  }

  /** st_stream_sessions: batch replay of gap-based sessionization at
    * MICROSECOND precision (a gap >= 30 min opens a new session —
    * `session_window`'s strict-overlap merge rule), checksummed on
    * session starts so every boundary is pinned. */
  private def streamSessionsSql: String =
    """WITH o AS (SELECT user_id, ts, event_id,
      |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |f AS (SELECT user_id, ts, event_id,
      |  CASE WHEN prev_ts IS NULL
      |       OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM o),
      |r AS (SELECT user_id, ts,
      |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM f),
      |g AS (SELECT user_id, sess, min(ts) AS session_start, count(*) AS n
      |  FROM r GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_sessions, CAST(sum(n) AS BIGINT) AS n_events,
      |  CAST(max(n) AS BIGINT) AS max_session_events,
      |  CAST(sum(epoch_us(session_start)) AS BIGINT) AS start_checksum
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  /** §2.12 stream-static enrichment: the events stream broadcast-joined
    * to the customer dimension per micro-batch, rolled up per market
    * segment in Complete mode
    * ([[graft.streaming.StreamingProfile.enrichedCounts]]). The oracle
    * replays the join as plain SQL — green iff the incremental join
    * + decimal rollup equals batch.
    */
  private def streamingEnrichQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_enrich_${streamSeq.incrementAndGet()}"
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val dim = s.read.parquet(s"$dir/customer.parquet")
    runStreamNarrow(s)(graft.streaming.StreamingProfile.enrichedCounts(
        stream, dim, "user_id", "c_custkey", "c_mktsegment", "value")
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    s.table(name)
      .select(col("c_mktsegment"), col("n"),
        col("amount").cast("double").as("amount"))
      .orderBy("c_mktsegment")
  }

  /** st_stream_enrich: the batch replay of the stream-static dimension
    * join + per-segment decimal rollup. */
  private def streamEnrichSql: String =
    """SELECT c.c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS amount
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** §2.12 stream-stream attribution join: clicks matched to the same
    * user's purchases within the preceding hour, both sides watermarked
    * ([[graft.streaming.StreamingProfile.attributionJoin]]) — the
    * canonical bounded-state interval join. The memory sink collects the
    * appended pairs; the result pins per-user pair counts AND both id
    * checksums, so the exact matched SET must equal the batch interval
    * join the oracle runs.
    */
  private def streamingAttribQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_attrib_${streamSeq.incrementAndGet()}"
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("ts", col("ts").cast("timestamp"))
    runStreamNarrow(s)(graft.streaming.StreamingProfile.attributionJoin(
        stream, "click", "purchase", "1 hour", "1 hour")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start())
    s.table(name).groupBy(col("t_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("t_id")).as("trig_checksum"),
        sum(col("c_id")).as("conv_checksum"))
      .orderBy("user_id")
  }

  /** st_stream_attrib: batch replay of the click→purchase interval
    * join — per-user pair counts and both id checksums pin the exact
    * matched set. */
  private def streamAttribSql: String =
    """WITH t AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
      |c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
      |SELECT t.user_id, count(*) AS n_pairs,
      |  CAST(sum(t.event_id) AS BIGINT) AS trig_checksum,
      |  CAST(sum(c.event_id) AS BIGINT) AS conv_checksum
      |FROM t JOIN c ON t.user_id = c.user_id AND t.ts <= c.ts
      |  AND t.ts >= c.ts - INTERVAL 1 HOUR
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("st_stream_profile", streamingProfile, streamProfileSql),
    QuerySpec("st_stream_rate", streamingRateQ, streamRateSql),
    QuerySpec("st_stream_dedup", streamingDedupQ, streamingDedupSql),
    QuerySpec("inc_profile_merge", incrementalMerge, incProfileMergeSql),
    QuerySpec("inc_quantile_sketch", quantileSketchQ, quantileSketchSql),
    QuerySpec("st_stream_quantiles", streamingQuantilesQ, quantileSketchSql("lineitem")),
    QuerySpec("st_stream_upsert", streamingUpsertQ, streamingUpsertSql),
    // streamed session windows must equal the batch islands — the
    // oracle replays them relationally at micros precision.
    QuerySpec("st_stream_sessions", streamingSessionsQ, streamSessionsSql),
    QuerySpec("st_stream_enrich", streamingEnrichQ, streamEnrichSql),
    QuerySpec("st_stream_attrib", streamingAttribQ, streamAttribSql))
}
