package graft.suite

import org.apache.spark.sql.functions._

import graft.streaming.Sessions
import Registry.tbl

/** Streaming extension suite. The session_window query runs the exact
  * code path shared with readStream (see graft.streaming.Sessions and
  * SessionsSpec, which proves batch == streaming on the same input); the
  * oracle reproduces Spark's session-merge semantics in exact
  * microseconds: a new event at >= gap after the previous one starts a
  * new session, session end = last event + gap.
  */
object StreamingQueries {

  private val GapUs = 900000000L // 15 min

  def all: Seq[QDef] = Seq(

    QDef(
      "stream_lateness_profile",
      (s, dir) => {
        // watermark sizing from data: how late do events actually
        // arrive? An event's lateness is the running max event-time
        // seen so far in ARRIVAL order minus its own event-time; the
        // hourly-bucket histogram per type (plus the per-type max) is
        // exactly the evidence that picks withWatermark's delay — too
        // small drops the tail, too large holds state. The driver data
        // arrives time-sorted (every lateness would be 0), so arrival
        // order is a deterministic hash shuffle of the ingest key — the
        // same simulated-transport convention as stream_dedup_events'
        // redelivery. One partitioned window + one map-side-combined
        // groupBy; the per-type max frame is |types| rows, broadcast
        // back onto the histogram.
        import org.apache.spark.sql.expressions.Window
        import graft.operators.Sampling
        val arrival = Sampling.hashBucket(col("event_id"), 1000000000)
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("arr"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val late = tbl(s, dir, "events")
          .select(col("event_type"), col("event_id"),
            unix_timestamp(col("ts")).as("tsec"))
          .withColumn("arr", arrival)
          .withColumn("late_sec", max(col("tsec")).over(w) - col("tsec"))
        val hist = late.groupBy(col("event_type"),
            call_function("div", col("late_sec"), lit(3600L)).as("late_bucket"))
          .agg(count(lit(1)).as("n"))
        val mx = late.groupBy(col("event_type"))
          .agg(max(col("late_sec")).as("max_late_sec"))
        hist.join(broadcast(mx), Seq("event_type"))
          .select(col("event_type"), col("late_bucket"), col("n"),
            col("max_late_sec"))
          .orderBy("event_type", "late_bucket")
      },
      Some(s"""
        WITH e AS (SELECT event_type, event_id,
                     CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
                     ${SamplingQueries.hashSql(
                       "CAST(event_id AS VARCHAR)", 1000000000)} AS arr
                   FROM events),
        l AS (SELECT event_type,
                max(tsec) OVER (PARTITION BY event_type
                  ORDER BY arr, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - tsec AS late_sec
              FROM e),
        h AS (SELECT event_type, late_sec // 3600 AS late_bucket,
                count(*) AS n
              FROM l GROUP BY 1, 2),
        m AS (SELECT event_type, max(late_sec) AS max_late_sec
              FROM l GROUP BY 1)
        SELECT h.event_type, h.late_bucket, h.n, m.max_late_sec
        FROM h JOIN m ON m.event_type = h.event_type
        ORDER BY h.event_type, h.late_bucket""")),

    QDef(
      "stream_dedup_events",
      (s, dir) => {
        // exactly-once ingestion from an at-least-once transport: the
        // event stream arrives doubled (simulated redelivery), the
        // ingest stage collapses it by delivery key before any
        // downstream aggregation. Redelivered records are
        // byte-identical, so dropDuplicates' arbitrary survivor is
        // deterministic.
        val e = tbl(s, dir, "events")
        e.unionByName(e).dropDuplicates(Seq("event_id"))
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
          .orderBy("user_id")
      },
      Some("""
        SELECT user_id, count(*) AS n_events
        FROM events GROUP BY user_id ORDER BY user_id""")),

    QDef(
      "stream_session_window",
      (s, dir) =>
        Sessions.sessionize(tbl(s, dir, "events"), "15 minutes")
          .select(col("user_id"),
            col("session_start"), col("session_end"), col("n_events"))
          .orderBy("user_id", "session_start"),
      Some(s"""
        WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        b AS (SELECT user_id, us,
          CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= $GapUs
               THEN 1 ELSE 0 END AS brk FROM e),
        g AS (SELECT user_id, us,
          sum(brk) OVER (PARTITION BY user_id ORDER BY us
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM b)
        SELECT user_id,
               min(us) // 1000000 AS session_start,
               (max(us) + $GapUs) // 1000000 AS session_end,
               count(*) AS n_events
        FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""")),

    QDef(
      "stream_stateful_islands",
      (s, dir) =>
        // the incremental gaps-and-islands operator, run over the batch
        // table (flatMapGroupsWithState folds each group once; the
        // multi-micro-batch convergence is proven in SessionsSpec) —
        // same semantics as the win_gaps_and_islands flagship: gap >
        // 1800s breaks, islands numbered 0-based in lo-order, HAVING
        // size >= 3 applied after numbering
        Sessions.statefulIslands(s, tbl(s, dir, "events"), 1800L)
          .filter(col("island_size") >= 3)
          .orderBy("user_id", "island_id"),
      Some("""
        WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        b AS (SELECT user_id, sec,
              CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800
                   THEN 1 ELSE 0 END AS brk FROM e),
        g AS (SELECT user_id, sec,
              CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY sec
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island_id
              FROM b)
        SELECT user_id, island_id, min(sec) AS island_start, max(sec) AS island_end,
               count(*) AS island_size
        FROM g GROUP BY user_id, island_id HAVING count(*) >= 3
        ORDER BY user_id, island_id""")),

    QDef(
      "stream_interval_join",
      (s, dir) => {
        // stream-stream attribution: purchases joined to same-user views
        // within a 30-minute look-back. Identical code path to the
        // watermarked streaming run (StreamJoinSpec); the range bound is
        // what makes join state evictable on a real stream.
        val e = tbl(s, dir, "events")
        graft.streaming.StreamJoins.attributionJoin(
            e.filter(col("event_type") === "view"),
            e.filter(col("event_type") === "purchase"),
            windowSec = 1800L)
          .orderBy("user_id", "view_id", "purchase_id")
      },
      Some("""
        SELECT v.user_id AS user_id, v.event_id AS view_id,
               p.event_id AS purchase_id,
               (epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS delta_sec
        FROM events v JOIN events p
          ON v.user_id = p.user_id
         AND v.event_type = 'view' AND p.event_type = 'purchase'
         AND epoch_us(p.ts) >= epoch_us(v.ts)
         AND epoch_us(p.ts) <= epoch_us(v.ts) + 1800000000
        ORDER BY user_id, view_id, purchase_id""")),

    QDef(
      "stream_interval_join_outer",
      (s, dir) => {
        // the attribution question's other half: every view, matched or
        // not — unmatched views carry null purchase columns. Streaming
        // left-outer emits an unmatched view exactly once, after the
        // watermark passes view_ts + window (StreamJoinSpec proves
        // stream == batch including the never-converted rows). Nulls
        // sort FIRST here to pin a single cross-engine order.
        val e = tbl(s, dir, "events")
        graft.streaming.StreamJoins.attributionJoin(
            e.filter(col("event_type") === "view"),
            e.filter(col("event_type") === "purchase"),
            windowSec = 1800L, joinType = "left_outer")
          .orderBy(col("user_id"), col("view_id"),
            col("purchase_id").asc_nulls_first)
      },
      Some("""
        SELECT v.user_id AS user_id, v.event_id AS view_id,
               p.event_id AS purchase_id,
               (epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS delta_sec
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON v.user_id = p.user_id
         AND epoch_us(p.ts) >= epoch_us(v.ts)
         AND epoch_us(p.ts) <= epoch_us(v.ts) + 1800000000
        ORDER BY user_id, view_id, purchase_id NULLS FIRST""")),

    QDef(
      "stream_upsert_compact",
      (s, dir) => {
        // the foreachBatch MERGE sink's state semantics: latest event
        // per user under the tie-broken (sec, event_id) total order —
        // the mergeBatch a sink folds micro-batch by micro-batch
        // (UpsertSinkSpec proves the folded state converges to this
        // one-shot merge, that replays are no-ops, and that late
        // deliveries can't regress a key). One max_by aggregation, no
        // window.
        val e = tbl(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("value_c"),
            unix_timestamp(col("ts")).as("sec"))
        graft.streaming.UpsertSink
          .mergeBatch(e.limit(0), e, Seq("user_id"), Seq("sec", "event_id"))
          .select(col("user_id"), col("event_id").as("last_event_id"),
            col("event_type").as("last_type"),
            col("value_c").as("last_value_c"), col("sec").as("last_sec"))
          .orderBy("user_id")
      },
      Some("""
        WITH r AS (
          SELECT user_id, event_id, event_type,
                 CAST(round(value * 100) AS BIGINT) AS value_c,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
                            event_id DESC) AS rn
          FROM events)
        SELECT user_id, event_id AS last_event_id, event_type AS last_type,
               value_c AS last_value_c, sec AS last_sec
        FROM r WHERE rn = 1 ORDER BY user_id""")),

    QDef(
      "stream_hll_distinct",
      (s, dir) => {
        // streaming cardinality monitoring: per event-time day, the
        // approximate distinct-user count from HLL REGISTERS — the
        // bounded-state alternative to streaming countDistinct (whose
        // state grows with true cardinality; registers are a fixed 256
        // rows per day, forever). The register aggregation is a plain
        // max — associative and insensitive to arrival order or
        // micro-batch boundaries — so this batch form and the
        // readStream form are the SAME code path
        // (graft.operators.Hll.registers; StreamingHllSpec proves
        // register parity on out-of-order micro-batched arrival, the
        // batch≡stream convention). Exact per-day audit columns ride
        // along, same as agg_hll_distinct.
        import graft.operators.Hll
        val ev = tbl(s, dir, "events")
          .select(to_date(col("ts")).as("d"), col("user_id"))
        val rk = Hll.registers(ev, Seq("d"), col("user_id"))
        Hll.estimate(rk, Seq("d"))
          .join(ev.groupBy(col("d"))
            .agg(countDistinct(col("user_id")).as("n_exact")), Seq("d"))
          .select(col("d"), col("z23"), col("hll_est"), col("n_exact"),
            expr("abs(hll_est - n_exact) * 1000000 div n_exact")
              .as("abs_err_ppm"))
          .orderBy("d")
      },
      Some(s"""
        WITH e AS (SELECT CAST(ts AS DATE) AS d, user_id,
                     CAST(user_id AS VARCHAR) AS k FROM events
                   WHERE user_id IS NOT NULL),
        ${graft.operators.Hll.mixSqlCtes("e", "d")},
        rr AS (SELECT d, h % 256 AS bucket, h // 256 AS w FROM hmix),
        rk AS (SELECT d, bucket,
                 max(CASE WHEN w = 0 THEN 23
                     ELSE 23 - length(bin(w)) END) AS r
               FROM rr GROUP BY 1, 2),
        zt AS (SELECT d,
                 CAST(sum(1::BIGINT << (23 - r))
                   + (256 - count(*)) * 8388608 AS BIGINT) AS z23
               FROM rk GROUP BY 1),
        et AS (SELECT d, z23,
                 ((${graft.operators.Hll.A20} * 549755813888) // z23)
                   // 1048576 AS hll_est
               FROM zt),
        xt AS (SELECT d, count(DISTINCT user_id) AS n_exact
               FROM e GROUP BY 1)
        SELECT et.d, et.z23, et.hll_est, xt.n_exact,
               abs(hll_est - n_exact) * 1000000 // n_exact AS abs_err_ppm
        FROM et JOIN xt USING (d) ORDER BY d"""))
  )
}
