package graft.suite

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.AsofJoin
import Registry.tbl

/** Built-in relational surface beyond the reference (SURVEY §2 "absent"
  * rows + §7 extension suite): as-of join, set operations, rollup/cube/
  * grouping sets, approx sketches, datetime functions, and TPC-H-shaped
  * headline queries.
  *
  * Money math uses integer cents (`round(x*100)` as BIGINT) so sums are
  * order-independent and exactly comparable across engines — floating
  * sums of 2-decimal values are neither.
  */
object ExtrasQueries {

  /** Write the bucketed join tables up front — the bench's declared setup
    * phase for the write-once/join-many pattern, mirroring the calls
    * inside `join_bucketed_colocated`.
    */
  def prebuildBucketed(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    graft.operators.Bucketing.ensureBucketed(
      tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
      "g_orders_bucketed", Seq("o_orderkey"), 8)
    graft.operators.Bucketing.ensureBucketed(
      tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
      "g_lineitem_bucketed", Seq("l_orderkey"), 8)
  }

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  /** The FastSS deletion-neighborhood index over customer names —
    * (k, nk, nm, blks) with blks = xxhash64 of the name plus each of
    * its 1-char-deletion variants (r13, verdict #4; the same persisted-
    * index pattern as DedupQueries.sharedSimhash128). The variant
    * CONSTRUCTION is the head cost of both FastSS queries — a
    * non-codegen higher-order-function chain (substr/concat per
    * character) that JITs at ~45 s per cold plan site at sf1 and
    * re-ran per lap in `join_entity_resolution`; as an artifact it is
    * computed once in the declared setup phase. Stored UNEXPLODED
    * (explode of a stored array is cheap codegen; storing the exploded
    * frame would 19x the parquet). The query still does all its
    * certified-superset join, minimal-shared-key gate and banded
    * levenshtein verify work per run — this is index reuse, not result
    * caching. `join_edit_dist_auto` cannot use it: its variant frame is
    * built by plans/EditDistJoinRewrite INSIDE the optimizer from
    * whatever join children it matched — substituting a parquet
    * artifact there would require proving the matched subtree equals
    * the artifact's build input, which a local rewrite cannot do.
    */
  private[suite] def sharedFastssVariants(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.memo(s, dir, "customer", "fastss_del1")(
      tbl(s, dir, "customer")
        .select(col("c_custkey").as("k"), col("c_nationkey").as("nk"),
          col("c_name").as("nm"))
        .withColumn("blks", array_distinct(transform(
          concat(
            transform(sequence(lit(1), length(col("nm"))),
              i => concat(
                col("nm").substr(lit(1), i - 1),
                col("nm").substr(i + 1, length(col("nm"))))),
            array(col("nm"))),
          v => xxhash64(v)))))

  /** Bench setup hook for the FastSS index (itemized as its own step). */
  def prebuildFastss(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    sharedFastssVariants(s, dir); ()
  }

  def all: Seq[QDef] = Seq(

    QDef(
      "agg_filter_clause",
      (s, dir) =>
        // conditional aggregation (SQL FILTER clause): one pass over the
        // fact table computes every conditional slice — map-side combined,
        // no per-condition re-scan; money in integer cents (exact)
        tbl(s, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(
            count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
            count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
            coalesce(sum(when(col("o_orderstatus") === "O",
              cents(col("o_totalprice")))), lit(0L)).as("open_cents"),
            count(lit(1)).as("n"))
          .orderBy("o_orderpriority"),
      Some("""
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
               coalesce(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 FILTER (WHERE o_orderstatus = 'O') AS BIGINT), 0) AS open_cents,
               count(*) AS n
        FROM orders GROUP BY 1 ORDER BY 1""")),

    QDef(
      "agg_histogram",
      (s, dir) =>
        // fixed-width histogram per group — the data-profiling staple:
        // one map-side-combined pass, bucket = floor(value / width) in
        // single IEEE ops both engines compute identically; money sums
        // in integer cents (the HUGEINT cast lesson applied in the
        // oracle)
        tbl(s, dir, "events")
          .groupBy(col("event_type"),
            floor(col("value") / 25).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n"),
            sum(cents(col("value"))).as("sum_cents"))
          .orderBy("event_type", "bucket"),
      Some("""
        SELECT event_type, CAST(floor(value / 25) AS BIGINT) AS bucket,
               count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    QDef(
      "agg_exact_median",
      (s, dir) => {
        // exact global median (and p90) of events.value in integer
        // cents, with NO global sort and NO single-partition window:
        // two-level bucket selection — per-bucket counts locate the one
        // bucket holding the target index (the only ordered window runs
        // over the tiny bucket frame), then only that bucket's rows are
        // ranked. approx_percentile is one pass but approximate; a
        // global row_number is exact but single-partition; this is both
        // exact and distributed.
        val ev = tbl(s, dir, "events")
          .select(cents(col("value")).as("cents"), col("event_id"))
        val med = graft.operators.Quantiles.exactQuantile(
            ev, "cents", "event_id", q = 0.5, bucketWidth = 500L)
          .withColumn("q", lit(0.5))
        val p90 = graft.operators.Quantiles.exactQuantile(
            ev, "cents", "event_id", q = 0.9, bucketWidth = 500L)
          .withColumn("q", lit(0.9))
        med.unionByName(p90).orderBy("q")
      },
      Some("""
        WITH t AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                          event_id FROM events),
        r AS (SELECT cents, event_id,
                row_number() OVER (ORDER BY cents, event_id) - 1 AS r0,
                count(*) OVER () AS n
              FROM t)
        SELECT cents, event_id, q
        FROM r CROSS JOIN (SELECT unnest([0.5, 0.9]) AS q)
        WHERE r0 = CAST(floor(q * (n - 1)) AS BIGINT)
        ORDER BY q""")),

    QDef(
      "agg_mode_value",
      (s, dir) =>
        // exact per-group mode: two map-side-combined aggregations
        // ((group, value) counts, then a lexicographic min over
        // (-count, value) structs), no window over data anywhere;
        // tie-break is deterministic (highest count, then smallest
        // value) so any partitioning agrees
        tbl(s, dir, "events")
          .select(col("event_type"), cents(col("value")).as("cents"))
          .groupBy(col("event_type"), col("cents"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("event_type"))
          .agg(min(struct((-col("n")).as("negn"), col("cents"))).as("m"),
            sum(col("n")).as("total"))
          .select(col("event_type"), col("m.cents").as("mode_cents"),
            (-col("m.negn")).as("n_mode"), col("total"))
          .orderBy("event_type"),
      Some("""
        WITH t AS (SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        c AS (SELECT event_type, cents, count(*) AS n FROM t GROUP BY 1, 2),
        r AS (SELECT *,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY n DESC, cents) AS rn,
                CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
              FROM c)
        SELECT event_type, cents AS mode_cents, CAST(n AS BIGINT) AS n_mode,
               total
        FROM r WHERE rn = 1 ORDER BY event_type""")),

    QDef(
      "agg_equidepth_bins",
      (s, dir) =>
        // equi-depth bin edges: all nine deciles in ONE pass over the
        // data (targets located on the tiny bucket-count frame, only
        // target buckets ranked) — the profiling histogram whose bins
        // hold equal row counts
        graft.operators.Quantiles.exactQuantiles(
            tbl(s, dir, "events")
              .select(cents(col("value")).as("cents"), col("event_id")),
            "cents", "event_id", (1 to 9).map(_ / 10.0), bucketWidth = 500L)
          .orderBy("q"),
      Some("""
        WITH t AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                          event_id FROM events),
        r AS (SELECT cents, event_id,
                row_number() OVER (ORDER BY cents, event_id) - 1 AS r0,
                count(*) OVER () AS n
              FROM t)
        SELECT q, cents, event_id
        FROM r CROSS JOIN (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5,
                                          0.6, 0.7, 0.8, 0.9]) AS q)
        WHERE r0 = CAST(floor(q * (n - 1)) AS BIGINT)
        ORDER BY q""")),

    QDef(
      "agg_group_median",
      (s, dir) =>
        // per-group exact median: the partitioned companion of
        // agg_exact_median — ranking is an ordinary partitioned window,
        // parallel across groups, no global order anywhere
        graft.operators.Quantiles.exactQuantileByGroup(
            tbl(s, dir, "events")
              .select(col("event_type"), cents(col("value")).as("cents"),
                col("event_id")),
            "event_type", "cents", "event_id", q = 0.5)
          .orderBy("event_type"),
      Some("""
        WITH t AS (SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS cents,
                     event_id FROM events),
        r AS (SELECT event_type, cents, event_id,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY cents, event_id) - 1 AS r0,
                count(*) OVER (PARTITION BY event_type) AS n
              FROM t)
        SELECT event_type, cents, event_id
        FROM r WHERE r0 = CAST(floor(0.5 * (n - 1)) AS BIGINT)
        ORDER BY event_type""")),

    QDef(
      "agg_profile_value",
      (s, dir) =>
        // column profiling with exact moments: sums and sums-of-squares
        // in integer cents are order-independent (float accumulation is
        // not, and stddev_samp would drift across partitionings); mean
        // and population variance derive from the exact sums by single
        // IEEE divisions, so any engine agrees bit-for-bit
        tbl(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            min(cents(col("value"))).as("min_cents"),
            max(cents(col("value"))).as("max_cents"),
            sum(cents(col("value"))).as("sum_cents"),
            sum(cents(col("value")) * cents(col("value"))).as("sumsq_cents"))
          .withColumn("mean_cents",
            col("sum_cents").cast("double") / col("n").cast("double"))
          .withColumn("var_cents",
            (col("n") * col("sumsq_cents") - col("sum_cents") * col("sum_cents"))
              .cast("double") / (col("n") * col("n")).cast("double"))
          .orderBy("event_type"),
      Some("""
        WITH c AS (SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        a AS (SELECT event_type, count(*) AS n,
                min(cents) AS min_cents, max(cents) AS max_cents,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                CAST(sum(cents * cents) AS BIGINT) AS sumsq_cents
              FROM c GROUP BY 1)
        SELECT event_type, n, min_cents, max_cents, sum_cents, sumsq_cents,
               CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents,
               CAST(n * sumsq_cents - sum_cents * sum_cents AS DOUBLE)
                 / CAST(n * n AS DOUBLE) AS var_cents
        FROM a ORDER BY event_type""")),

    QDef(
      "f_zorder_cluster",
      (s, dir) =>
        // Morton/Z-order locality key (native codegen'd graft_zorder2):
        // sort or range-partition by zkey and rows close in BOTH
        // dimensions land in the same files — the multi-dim data-skipping
        // layout a lexicographic sort can't give
        tbl(s, dir, "lineitem").filter(col("l_orderkey") < 1000)
          .select(col("l_orderkey"), col("l_linenumber"),
            graft.functions.VectorExpressions.zorder2(
              col("l_partkey") % 1024, col("l_suppkey") % 1024).as("zkey"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some {
        val terms = (0 until 16).flatMap(b => Seq(
          s"(((l_partkey % 1024) >> $b) & 1) * ${1L << (2 * b)}",
          s"(((l_suppkey % 1024) >> $b) & 1) * ${1L << (2 * b + 1)}")).mkString(" + ")
        s"""SELECT l_orderkey, l_linenumber, CAST($terms AS BIGINT) AS zkey
            FROM lineitem WHERE l_orderkey < 1000
            ORDER BY l_orderkey, l_linenumber"""
      }),

    QDef(
      "join_range_interval",
      (s, dir) => {
        // bucketized point-in-interval join: events against this corpus's
        // own session windows (key = user_id + time-bucket equi-join,
        // exact containment refilter — never a nested-loop). The result
        // doubles as a cross-check: per-session point count == n_events.
        val ev = tbl(s, dir, "events")
        val points = ev.select(col("user_id"), unix_timestamp(col("ts")).as("sec"))
        val sessions = graft.streaming.Sessions.sessionize(ev, "15 minutes")
        graft.operators.RangeJoin.rangeJoin(points, "sec", sessions,
            "session_start", "session_end", Seq("user_id"), bucketWidth = 900L)
          .groupBy(col("user_id"), col("session_start"), col("session_end"),
            col("n_events"))
          .agg(count(lit(1)).as("n_in_range"))
          .orderBy("user_id", "session_start")
      },
      Some("""
        WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        b AS (SELECT user_id, us,
          CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 900000000
               THEN 1 ELSE 0 END AS brk FROM e),
        g AS (SELECT user_id, us,
          sum(brk) OVER (PARTITION BY user_id ORDER BY us
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM b),
        sess AS (SELECT user_id,
                   min(us) // 1000000 AS session_start,
                   (max(us) + 900000000) // 1000000 AS session_end,
                   count(*) AS n_events
                 FROM g GROUP BY user_id, sid),
        p AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
        SELECT s.user_id, s.session_start, s.session_end, s.n_events,
               count(*) AS n_in_range
        FROM p JOIN sess s ON p.user_id = s.user_id
          AND p.sec >= s.session_start AND p.sec < s.session_end
        GROUP BY 1, 2, 3, 4
        ORDER BY s.user_id, s.session_start""")),

    QDef(
      "join_range_auto",
      (s, dir) => {
        // the SAME point-in-interval join written naively — raw
        // `user_id = AND sec >= start AND sec < end` as the join
        // condition. RangeJoinRewrite (installed via GraftExtensions)
        // recognizes the cross-side bound pair and plans the bucketed
        // equi-join automatically, keeping user_id as a real join key;
        // RangeJoinRuleSpec asserts no nested loop survives. Results
        // are bit-exact with the theta join (the original predicates
        // are the residual). The 900 s bin — a data property of this
        // axis (15-min sessions) — is scoped to this plan's
        // construction, not session-wide.
        Registry.withRangeBucket(s, 900L) {
          val ev = tbl(s, dir, "events")
          val points = ev.select(col("user_id").as("p_uid"),
            unix_timestamp(col("ts")).as("sec"))
          val sessions = graft.streaming.Sessions.sessionize(ev, "15 minutes")
          points.join(sessions,
              col("p_uid") === col("user_id") &&
                col("sec") >= col("session_start") &&
                col("sec") < col("session_end"))
            .groupBy(col("user_id"), col("session_start"), col("session_end"),
              col("n_events"))
            .agg(count(lit(1)).as("n_in_range"))
            .orderBy("user_id", "session_start")
        }
      },
      Some("""
        WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        b AS (SELECT user_id, us,
          CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 900000000
               THEN 1 ELSE 0 END AS brk FROM e),
        g AS (SELECT user_id, us,
          sum(brk) OVER (PARTITION BY user_id ORDER BY us
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM b),
        sess AS (SELECT user_id,
                   min(us) // 1000000 AS session_start,
                   (max(us) + 900000000) // 1000000 AS session_end,
                   count(*) AS n_events
                 FROM g GROUP BY user_id, sid),
        p AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
        SELECT s.user_id, s.session_start, s.session_end, s.n_events,
               count(*) AS n_in_range
        FROM p JOIN sess s ON p.user_id = s.user_id
          AND p.sec >= s.session_start AND p.sec < s.session_end
        GROUP BY 1, 2, 3, 4
        ORDER BY s.user_id, s.session_start""")),

    QDef(
      "join_asof",
      (s, dir) => {
        // per event: the user's latest order with orderdate <= event time
        // (union + window implementation, no nested-loop join)
        val ev = tbl(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
        val o = tbl(s, dir, "orders")
          .select(col("o_custkey").as("user_id"), col("o_orderdate"), col("o_orderkey"))
        AsofJoin.asofBackward(ev, o, Seq("user_id"), "ts", "o_orderdate",
            valueCols = Seq("o_orderkey"), tieBreak = Seq("o_orderkey"))
          .select(col("event_id"), col("user_id"), col("o_orderkey"))
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id, user_id, o_orderkey FROM (
          SELECT e.event_id, e.user_id, o.o_orderkey,
            row_number() OVER (PARTITION BY e.event_id
              ORDER BY o.o_orderdate DESC NULLS LAST,
                       o.o_orderkey DESC NULLS LAST) AS rn
          FROM events e LEFT JOIN orders o
            ON o.o_custkey = e.user_id
           AND CAST(floor(epoch(o.o_orderdate)) AS BIGINT)
               <= CAST(floor(epoch(e.ts)) AS BIGINT)) t
        WHERE rn = 1 ORDER BY event_id""")),

    QDef(
      "join_asof_tolerance",
      (s, dir) => {
        // feature-store as-of with a staleness bound: each view event
        // gets the user's latest prior purchase ONLY if it is at most
        // 48 h old — older features are worse than missing
        // (training-serving skew), so a stale match degrades to null
        // rather than attaching. Same union-and-window as-of plan (one
        // shuffle, no nested loop); the tolerance is a post-match
        // projection. Both branches fire on this corpus (≈60/40
        // fresh/stale at the test scales).
        val tolSec = 2L * 86400
        val ev = tbl(s, dir, "events")
        val views = ev.filter(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("f_ts"),
            col("event_id").as("f_id"),
            round(col("value") * 100).cast("long").as("f_cents"))
        AsofJoin.asofBackward(views, purchases, Seq("user_id"), "ts", "f_ts",
            valueCols = Seq("f_cents", "f_ts", "f_id"),
            tieBreak = Seq("f_id"))
          .select(col("event_id"), col("user_id"), col("f_cents"),
            (unix_timestamp(col("ts")) - unix_timestamp(col("f_ts")))
              .as("age_sec"))
          .select(col("event_id"), col("user_id"),
            when(col("age_sec") <= tolSec, col("f_cents"))
              .as("fresh_cents"),
            when(col("age_sec") <= tolSec, col("age_sec")).as("age_sec"))
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id, user_id,
               CASE WHEN age_sec <= 172800 THEN f_cents END AS fresh_cents,
               CASE WHEN age_sec <= 172800 THEN age_sec END AS age_sec
        FROM (
          SELECT v.event_id, v.user_id, p.f_cents,
            CAST(floor(epoch(v.ts)) AS BIGINT)
              - CAST(floor(epoch(p.f_ts)) AS BIGINT) AS age_sec,
            row_number() OVER (PARTITION BY v.event_id
              ORDER BY p.f_ts DESC NULLS LAST, p.f_id DESC NULLS LAST) AS rn
          FROM (SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'view') v
          LEFT JOIN (SELECT user_id, ts AS f_ts, event_id AS f_id,
                       CAST(round(value * 100) AS BIGINT) AS f_cents
                     FROM events WHERE event_type = 'purchase') p
            ON p.user_id = v.user_id
           AND CAST(floor(epoch(p.f_ts)) AS BIGINT)
               <= CAST(floor(epoch(v.ts)) AS BIGINT)) t
        WHERE rn = 1 ORDER BY event_id""")),

    QDef(
      "join_asof_auto",
      (s, dir) => {
        // the TOLERANCE-BOUNDED as-of in its NAIVE SQL shape: candidate
        // matches come from a raw theta join (purchase in
        // [view - 48 h, view], same user), the nearest match from a
        // per-event window argmax. The staleness bound makes the time
        // conjuncts a point-in-interval PAIR, so RangeJoinRewrite
        // rescues the candidate join into the bucketed equi-join
        // automatically (user_id stays a real join key; bucket = the
        // 48 h tolerance, fan-out <= 2) — naive as-of SQL gets a plan
        // instead of a nested loop whenever it carries the tolerance
        // every production feature store uses anyway. The UNBOUNDED
        // nearest-match stays operator-only (AsofJoin.asofBackward's
        // union-and-window): with no lower bound a row may need to look
        // arbitrarily far back, so no bucketing has bounded fan-out —
        // see SCALE.md round-10 design note.
        val tolSec = 2L * 86400
        Registry.withRangeBucket(s, tolSec) {
          val ev = tbl(s, dir, "events")
          val views = ev.filter(col("event_type") === "view")
            .select(col("event_id"), col("user_id").as("v_uid"),
              unix_timestamp(col("ts")).as("v_sec"))
          val purchases = ev.filter(col("event_type") === "purchase")
            .select(col("user_id").as("p_uid"), col("event_id").as("p_id"),
              unix_timestamp(col("ts")).as("p_sec"))
          views.join(purchases,
              col("p_uid") === col("v_uid") &&
                col("p_sec") <= col("v_sec") &&
                col("p_sec") >= col("v_sec") - tolSec)
            .withColumn("rn", row_number().over(
              Window.partitionBy(col("event_id"))
                .orderBy(col("p_sec").desc, col("p_id").desc)))
            .filter(col("rn") === 1)
            .select(col("event_id"), col("v_uid").as("user_id"), col("p_id"),
              (col("v_sec") - col("p_sec")).as("age_sec"))
            .orderBy("event_id")
        }
      },
      Some("""
        WITH v AS (SELECT event_id, user_id,
                     CAST(floor(epoch(ts)) AS BIGINT) AS sec
                   FROM events WHERE event_type = 'view'),
        p AS (SELECT user_id, event_id AS p_id,
                CAST(floor(epoch(ts)) AS BIGINT) AS sec
              FROM events WHERE event_type = 'purchase'),
        c AS (SELECT v.event_id, v.user_id, p.p_id, v.sec - p.sec AS age_sec,
                row_number() OVER (PARTITION BY v.event_id
                  ORDER BY p.sec DESC, p.p_id DESC) AS rn
              FROM v JOIN p ON p.user_id = v.user_id
                AND p.sec <= v.sec AND p.sec >= v.sec - 172800)
        SELECT event_id, user_id, p_id, age_sec FROM c WHERE rn = 1
        ORDER BY event_id""")),

    QDef(
      "agg_markov_stationary",
      (s, dir) => {
        // stationary distribution of the behavior Markov chain: the
        // long-run share of time a user spends in each event type,
        // from 4 unrolled power-iteration rounds x' = xP in scaled
        // integers (probabilities and masses in millionths; the only
        // division is an integer div at each round's sum, so every
        // round is order-independent and engine-identical). The
        // transition matrix is |types|² rows — after the one fact-grain
        // lag pass, all arithmetic runs on broadcast-size frames.
        import org.apache.spark.sql.expressions.Window
        val wu = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        val pairs = tbl(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type").as("cur"))
          .withColumn("nxt", lead(col("cur"), 1).over(wu))
          .where(col("nxt").isNotNull)
        val p = pairs.groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("c"))
          .withColumn("row_n", sum(col("c")).over(
            Window.partitionBy(col("cur"))))
          .select(col("cur"), col("nxt"),
            expr("(1000000 * c) div row_n").as("p_q6"))
        val x0 = p.select(col("cur")).distinct()
          .select(col("cur").as("st"), lit(200000L).as("m"))
        def step(x: org.apache.spark.sql.DataFrame) =
          x.join(p, col("st") === col("cur"))
            .groupBy(col("nxt"))
            .agg(expr("sum(m * p_q6) div 1000000").as("m"))
            .select(col("nxt").as("st"), col("m"))
        val x4 = step(step(step(step(x0))))
        x4.select(col("st").as("event_type"), col("m").as("mass_q6"))
          .orderBy("event_type")
      },
      Some("""
        WITH e AS (SELECT user_id, event_id, event_type AS cur FROM events),
        s AS (SELECT user_id, cur,
                lead(cur) OVER (PARTITION BY user_id ORDER BY event_id) AS nxt
              FROM e),
        c AS (SELECT cur, nxt, count(*) AS c FROM s
              WHERE nxt IS NOT NULL GROUP BY 1, 2),
        p AS (SELECT cur, nxt,
                (1000000 * c) // CAST(sum(c) OVER (PARTITION BY cur) AS BIGINT)
                  AS p_q6
              FROM c),
        x0 AS (SELECT DISTINCT cur AS st, CAST(200000 AS BIGINT) AS m FROM p),
        x1 AS (SELECT p.nxt AS st, CAST(sum(x.m * p.p_q6) AS BIGINT) // 1000000 AS m
               FROM x0 x JOIN p ON p.cur = x.st GROUP BY p.nxt),
        x2 AS (SELECT p.nxt AS st, CAST(sum(x.m * p.p_q6) AS BIGINT) // 1000000 AS m
               FROM x1 x JOIN p ON p.cur = x.st GROUP BY p.nxt),
        x3 AS (SELECT p.nxt AS st, CAST(sum(x.m * p.p_q6) AS BIGINT) // 1000000 AS m
               FROM x2 x JOIN p ON p.cur = x.st GROUP BY p.nxt),
        x4 AS (SELECT p.nxt AS st, CAST(sum(x.m * p.p_q6) AS BIGINT) // 1000000 AS m
               FROM x3 x JOIN p ON p.cur = x.st GROUP BY p.nxt)
        SELECT st AS event_type, m AS mass_q6 FROM x4 ORDER BY st""")),

    QDef(
      "join_asof_forward",
      (s, dir) => {
        // per event: the user's NEXT order on/after the event time —
        // the forward mirror of join_asof (same union-and-window plan,
        // one shuffle, no nested loop); at equal timestamps the
        // smallest orderkey attaches
        val ev = tbl(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
        val o = tbl(s, dir, "orders")
          .select(col("o_custkey").as("user_id"), col("o_orderdate"), col("o_orderkey"))
        AsofJoin.asofForward(ev, o, Seq("user_id"), "ts", "o_orderdate",
            valueCols = Seq("o_orderkey"), tieBreak = Seq("o_orderkey"))
          .select(col("event_id"), col("user_id"), col("o_orderkey"))
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id, user_id, o_orderkey FROM (
          SELECT e.event_id, e.user_id, o.o_orderkey,
            row_number() OVER (PARTITION BY e.event_id
              ORDER BY o.o_orderdate ASC NULLS LAST,
                       o.o_orderkey ASC NULLS LAST) AS rn
          FROM events e LEFT JOIN orders o
            ON o.o_custkey = e.user_id
           AND CAST(floor(epoch(o.o_orderdate)) AS BIGINT)
               >= CAST(floor(epoch(e.ts)) AS BIGINT)) t
        WHERE rn = 1 ORDER BY event_id""")),

    QDef(
      "join_asof_nearest",
      (s, dir) => {
        // per event: the user's NEAREST order in time, either side —
        // composed from the backward and forward as-of passes (each a
        // union-and-window, no nested loop) joined on the unique event
        // id, then a per-row delta comparison. Ties (equidistant
        // orders) resolve to the backward side, matching the usual
        // "prefer what already happened" attribution rule; within a
        // side the as-of tie-breaks apply (backward: largest orderkey
        // at the tie date; forward: smallest).
        val ev = tbl(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
        val o = tbl(s, dir, "orders")
          .select(col("o_custkey").as("user_id"), col("o_orderdate"), col("o_orderkey"))
        def pass(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
            Seq[String], String, String, Seq[String], Seq[String]) => org.apache.spark.sql.DataFrame,
            tag: String) =
          f(ev, o, Seq("user_id"), "ts", "o_orderdate",
            Seq("o_orderkey", "o_orderdate"), Seq("o_orderkey"))
            .select(col("event_id"), col("user_id"), col("ts"),
              col("o_orderkey").as(s"${tag}_key"),
              unix_timestamp(col("o_orderdate")).as(s"${tag}_sec"))
        val b = pass(AsofJoin.asofBackward, "b")
        val f = pass(AsofJoin.asofForward, "f").drop("user_id", "ts")
        b.join(f, Seq("event_id"))
          .withColumn("sec", unix_timestamp(col("ts")))
          .withColumn("b_delta", col("sec") - col("b_sec"))
          .withColumn("f_delta", col("f_sec") - col("sec"))
          .withColumn("pick_b", col("b_delta").isNotNull &&
            (col("f_delta").isNull || col("b_delta") <= col("f_delta")))
          .select(col("event_id"), col("user_id"),
            when(col("pick_b"), col("b_key")).otherwise(col("f_key")).as("nearest_orderkey"),
            when(col("pick_b"), col("b_delta")).otherwise(col("f_delta")).as("delta_sec"))
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id, user_id, o_orderkey AS nearest_orderkey, delta_sec FROM (
          SELECT e.event_id, e.user_id, o.o_orderkey,
            abs(CAST(floor(epoch(e.ts)) AS BIGINT)
                - CAST(floor(epoch(o.o_orderdate)) AS BIGINT)) AS delta_sec,
            row_number() OVER (PARTITION BY e.event_id ORDER BY
              abs(CAST(floor(epoch(e.ts)) AS BIGINT)
                  - CAST(floor(epoch(o.o_orderdate)) AS BIGINT)) ASC NULLS LAST,
              CASE WHEN epoch(o.o_orderdate) <= epoch(e.ts) THEN 0 ELSE 1 END,
              CASE WHEN epoch(o.o_orderdate) <= epoch(e.ts)
                   THEN -o.o_orderkey ELSE o.o_orderkey END) AS rn
          FROM events e LEFT JOIN orders o ON o.o_custkey = e.user_id) t
        WHERE rn = 1 ORDER BY event_id""")),

    QDef(
      "join_salted_skew",
      (s, dir) => {
        // explicit salt-and-replicate equi-join: fact keys spread over 16
        // reducers, dim replicated per salt (graft.operators.Salted) —
        // the plan AQE cannot produce for hash-join build skew. Result
        // identical to the plain join, proven by the oracle.
        val li = tbl(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_quantity"),
            col("l_orderkey"), col("l_linenumber"))
        val part = tbl(s, dir, "part").select(col("p_partkey"), col("p_brand"))
        graft.operators.Salted.saltedJoin(
            li, part.withColumnRenamed("p_partkey", "l_partkey"),
            Seq("l_partkey"),
            spreadCol = col("l_orderkey") * 8 + col("l_linenumber"),
            buckets = 16)
          .groupBy(col("p_brand"))
          .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
            count(lit(1)).as("n"))
          .orderBy("p_brand")
      },
      Some("""
        SELECT p_brand, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
               count(*) AS n
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1 ORDER BY 1""")),

    QDef(
      "join_bucketed_colocated",
      (s, dir) => {
        // co-located join: both sides written bucketed+sorted on the join
        // key, so the join itself plans with no Exchange (asserted in
        // BucketingSpec) — the write-once/join-many pattern for recurring
        // fact-to-fact joins at scale. ensureBucketed writes once per
        // JVM+input, so a repeat run measures the join, not the setup.
        graft.operators.Bucketing.ensureBucketed(
          tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          "g_orders_bucketed", Seq("o_orderkey"), 8)
        graft.operators.Bucketing.ensureBucketed(
          tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
          "g_lineitem_bucketed", Seq("l_orderkey"), 8)
        s.table("g_lineitem_bucketed")
          .join(s.table("g_orders_bucketed"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
            count(lit(1)).as("n"))
          .orderBy("o_custkey")
      },
      Some("""
        SELECT o_custkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
               count(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY 1""")),

    QDef(
      "setop_intersect",
      (s, dir) => {
        val o = tbl(s, dir, "orders")
        o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
          .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
          .orderBy("o_custkey")
      },
      Some("""
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        ORDER BY o_custkey""")),

    QDef(
      "setop_except",
      (s, dir) => {
        val o = tbl(s, dir, "orders")
        o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
          .except(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
          .orderBy("o_custkey")
      },
      Some("""
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        ORDER BY o_custkey""")),

    QDef(
      "setop_except_all",
      (s, dir) => {
        // EXCEPT ALL — multiset difference with multiplicity (each
        // purchase "consumes" one view occurrence of the same user):
        // the bag semantics dedup-by-count relies on, distinct from
        // setop_except's set semantics. Spark plans it as a
        // count-balancing aggregation, one shuffle. Output re-counted
        // per user so the compare is order-free.
        val e = tbl(s, dir, "events")
        e.filter(col("event_type") === "view").select(col("user_id"))
          .exceptAll(e.filter(col("event_type") === "purchase").select(col("user_id")))
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_surplus"))
          .orderBy("user_id")
      },
      Some("""
        WITH d AS (
          SELECT user_id FROM events WHERE event_type = 'view'
          EXCEPT ALL
          SELECT user_id FROM events WHERE event_type = 'purchase')
        SELECT user_id, count(*) AS n_surplus FROM d
        GROUP BY user_id ORDER BY user_id""")),

    QDef(
      "join_null_safe_eq",
      (s, dir) => {
        // null-safe equality join (<=> / IS NOT DISTINCT FROM): the
        // "unknown bucket matches unknown bucket" semantics ordinary
        // equi-joins silently drop (NULL = NULL is never true). Both
        // sides derive a nullable bucket (one residue nulled out), and
        // the null buckets MUST pair up — the reconciliation shape for
        // dimension keys with honest unknowns. Still a hash join: the
        // null-safe operator hashes on a null-tagged key.
        val e = tbl(s, dir, "events")
        val a = e.filter(col("event_type") === "view")
          .select(when(expr("user_id % 7 = 3"), lit(null).cast("long"))
            .otherwise(expr("user_id % 7")).as("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("n_views"))
        val b = e.filter(col("event_type") === "purchase")
          .select(when(expr("user_id % 7 = 3"), lit(null).cast("long"))
            .otherwise(expr("user_id % 7")).as("k2"))
          .groupBy(col("k2")).agg(count(lit(1)).as("n_purchases"))
        a.join(b, col("k") <=> col("k2"))
          .select(col("k"), col("n_views"), col("n_purchases"))
          .orderBy(col("k").asc_nulls_first)
      },
      Some("""
        WITH a AS (SELECT CASE WHEN user_id % 7 = 3 THEN NULL
                               ELSE user_id % 7 END AS k,
                          count(*) AS n_views
                   FROM events WHERE event_type = 'view' GROUP BY 1),
        b AS (SELECT CASE WHEN user_id % 7 = 3 THEN NULL
                          ELSE user_id % 7 END AS k2,
                     count(*) AS n_purchases
              FROM events WHERE event_type = 'purchase' GROUP BY 1)
        SELECT a.k, a.n_views, b.n_purchases
        FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k2
        ORDER BY a.k NULLS FIRST""")),

    QDef(
      "setop_union",
      (s, dir) => {
        val c = tbl(s, dir, "customer")
        c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
          .union(c.filter(col("c_acctbal") < 0).select(col("c_custkey")))
          .distinct()
          .orderBy("c_custkey")
      },
      Some("""
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT c_custkey FROM customer WHERE c_acctbal < 0
        ORDER BY c_custkey""")),

    QDef(
      "agg_rollup",
      (s, dir) =>
        tbl(s, dir, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).cast("long").as("sum_qty"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    QDef(
      "agg_cube",
      (s, dir) =>
        tbl(s, dir, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
      Some("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")),

    QDef(
      "agg_grouping_sets",
      (s, dir) =>
        tbl(s, dir, "customer")
          .groupingSets(
            Seq(Seq(col("c_mktsegment")), Seq(col("c_nationkey"))),
            col("c_mktsegment"), col("c_nationkey"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("c_mktsegment").asc_nulls_first, col("c_nationkey").asc_nulls_first),
      Some("""
        SELECT c_mktsegment, c_nationkey, count(*) AS n
        FROM customer GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
        ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST""")),

    QDef(
      "agg_percentile_exact",
      (s, dir) =>
        // exact (sort-based) quantiles at power-of-two fractions over
        // integer-valued quantities: linear interpolation is exact FP in
        // both engines, so the compare is bit-precise
        tbl(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            expr("percentile(l_quantity, 0.25)").as("q25"),
            expr("percentile(l_quantity, 0.5)").as("median"),
            expr("percentile(l_quantity, 0.75)").as("q75"))
          .orderBy("l_returnflag"),
      Some("""
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.25) AS q25,
               quantile_cont(l_quantity, 0.5) AS median,
               quantile_cont(l_quantity, 0.75) AS q75
        FROM lineitem GROUP BY 1 ORDER BY 1""")),

    QDef(
      "join_outer_nulls",
      (s, dir) => {
        // full outer join + null-default semantics (the relational
        // reading of the reference's .get(default) handling, py:82-84)
        val c = tbl(s, dir, "customer")
          .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_cust"))
        val sup = tbl(s, dir, "supplier")
          .groupBy(col("s_nationkey").as("nk")).agg(count(lit(1)).as("n_supp"))
        c.join(sup, Seq("nk"), "full_outer")
          .select(col("nk"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"))
          .orderBy("nk")
      },
      Some("""
        WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust
                   FROM customer GROUP BY 1),
             s AS (SELECT s_nationkey AS nk, count(*) AS n_supp
                   FROM supplier GROUP BY 1)
        SELECT coalesce(c.nk, s.nk) AS nk,
               coalesce(n_cust, 0) AS n_cust,
               coalesce(n_supp, 0) AS n_supp
        FROM c FULL OUTER JOIN s ON c.nk = s.nk
        ORDER BY nk""")),

    QDef(
      "agg_salted_skew",
      (s, dir) =>
        // two-stage salted aggregation over a 3-key (heavily skewed)
        // grouping — identical result to the direct groupBy, but stage 1
        // spreads each hot key over 32 reducers (graft.operators.Salted)
        graft.operators.Salted.saltedSumCount(
          tbl(s, dir, "lineitem"),
          Seq("l_returnflag"),
          col("l_quantity"),
          spreadCol = col("l_orderkey") * 8 + col("l_linenumber"))
          .select(col("l_returnflag"), col("sum_val").cast("long").as("sum_qty"), col("n"))
          .orderBy("l_returnflag"),
      Some("""
        SELECT l_returnflag, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
               count(*) AS n
        FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // approx sketch: the raw HLL estimate differs between engines, so the
    // oracle checks the exact count plus the sketch's error *bound*
    // (default rsd 0.05; 3-sigma bound 15%) — DuckDB asserts the same
    // exact counts and `true` for the bound column
    QDef(
      "agg_approx_count_distinct",
      (s, dir) =>
        tbl(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
            countDistinct(col("l_partkey")).as("exact_parts"))
          .select(col("l_returnflag"), col("exact_parts"),
            (abs(col("approx_parts") - col("exact_parts")) <=
              col("exact_parts") * 0.15).as("approx_within_15pct"))
          .orderBy("l_returnflag"),
      Some("""
        SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
               TRUE AS approx_within_15pct
        FROM lineitem GROUP BY 1 ORDER BY 1""")),

    QDef(
      "f_datetime_trunc",
      (s, dir) =>
        tbl(s, dir, "orders")
          .groupBy(unix_timestamp(date_trunc("month", col("o_orderdate"))).as("month_start"))
          .agg(count(lit(1)).as("n"))
          .orderBy("month_start"),
      Some("""
        SELECT CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT)
                 AS month_start, count(*) AS n
        FROM orders GROUP BY 1 ORDER BY 1""")),

    QDef(
      "agg_ohlc_resample",
      (s, dir) =>
        // time-series resample to hourly OHLC bars per event type: one
        // pass, one shuffle on the (type, hour) grain. Open/close pick
        // the bucket's first/last VALUE by event_id via min_by/max_by —
        // a single map-side-combined aggregate, no row_number window or
        // self-join, and event_id (unique) dodges ts-tie nondeterminism.
        // Money in integer cents; bucket emitted as epoch seconds (the
        // engine-portable timestamp form, as in f_datetime_trunc).
        tbl(s, dir, "events")
          .select(col("event_type"),
            unix_timestamp(date_trunc("hour", col("ts"))).as("bucket_start"),
            col("event_id"), cents(col("value")).as("c"))
          .groupBy("event_type", "bucket_start")
          .agg(
            min_by(col("c"), col("event_id")).as("open_c"),
            max(col("c")).as("high_c"),
            min(col("c")).as("low_c"),
            max_by(col("c"), col("event_id")).as("close_c"),
            count(lit(1)).as("n_events"))
          .orderBy("event_type", "bucket_start"),
      Some("""
        WITH e AS (SELECT event_type,
                          CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
                            AS bucket_start,
                          event_id,
                          CAST(round(value * 100) AS BIGINT) AS c
                   FROM events)
        SELECT event_type, bucket_start,
               arg_min(c, event_id) AS open_c,
               max(c) AS high_c,
               min(c) AS low_c,
               arg_max(c, event_id) AS close_c,
               count(*) AS n_events
        FROM e GROUP BY 1, 2 ORDER BY 1, 2""")),

    QDef(
      "join_semi_anti",
      (s, dir) => {
        // explicit LEFT SEMI / LEFT ANTI plans (EXISTS / NOT EXISTS):
        // semi keeps one probe row per match without duplicating on the
        // build side's fanout (a plain inner join + distinct would
        // shuffle the multiplicity first, then throw it away); anti is
        // the complement. Both sides reduce to a per-segment count, so
        // the result is a tiny partition-audit frame.
        val c = tbl(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
        val o = tbl(s, dir, "orders").select(col("o_custkey"))
        val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .withColumn("has_order", lit(1))
        val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .withColumn("has_order", lit(0))
        semi.unionByName(anti)
          .groupBy("c_mktsegment", "has_order")
          .agg(count(lit(1)).as("n_cust"))
          .orderBy("c_mktsegment", "has_order")
      },
      Some("""
        SELECT c_mktsegment, 1 AS has_order, count(*) AS n_cust
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY 1
        UNION ALL
        SELECT c_mktsegment, 0 AS has_order, count(*) AS n_cust
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY 1
        ORDER BY c_mktsegment, has_order""")),

    QDef(
      "set_intersect_except",
      (s, dir) => {
        // INTERSECT / EXCEPT as first-class set operators: partition the
        // customer-key universe by which order-status sets it belongs to.
        // Spark plans both as left-semi/anti joins over pre-distincted
        // inputs — no wide shuffle beyond the two distincts, and the
        // three branches reuse them.
        val o = tbl(s, dir, "orders")
        val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey")).distinct()
        val op = o.filter(col("o_orderstatus") === "O").select(col("o_custkey")).distinct()
        f.intersect(op).withColumn("tag", lit("both"))
          .unionByName(f.except(op).withColumn("tag", lit("f_only")))
          .unionByName(op.except(f).withColumn("tag", lit("o_only")))
          .groupBy("tag")
          .agg(count(lit(1)).as("n_cust"),
            min(col("o_custkey")).as("min_key"),
            max(col("o_custkey")).as("max_key"))
          .orderBy("tag")
      },
      Some("""
        WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
             o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
             t AS (SELECT o_custkey, 'both' AS tag
                     FROM (SELECT * FROM f INTERSECT SELECT * FROM o)
                   UNION ALL
                   SELECT o_custkey, 'f_only' AS tag
                     FROM (SELECT * FROM f EXCEPT SELECT * FROM o)
                   UNION ALL
                   SELECT o_custkey, 'o_only' AS tag
                     FROM (SELECT * FROM o EXCEPT SELECT * FROM f))
        SELECT tag, count(*) AS n_cust,
               min(o_custkey) AS min_key, max(o_custkey) AS max_key
        FROM t GROUP BY 1 ORDER BY 1""")),

    QDef(
      "agg_gap_fill_hourly",
      (s, dir) => {
        // dense-calendar gap fill: regularize the event stream to one
        // row per (type, hour), zero-filling silent hours — the step
        // before any window/EWMA/anomaly pass that assumes a regular
        // grid. The hourly spine is GENERATED DISTRIBUTEDLY per group
        // (sequence+explode from each group's own min/max), not
        // collected to the driver and not one global calendar crossed
        // against all groups — per-group spans stay narrow at scale.
        val hourly = tbl(s, dir, "events")
          .select(col("event_type"),
            unix_timestamp(date_trunc("hour", col("ts"))).as("h"))
          .groupBy("event_type", "h").agg(count(lit(1)).as("n"))
        val spine = hourly.groupBy("event_type")
          .agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
          .select(col("event_type"),
            explode(sequence(col("lo"), col("hi"), lit(3600L))).as("h"))
        spine.join(hourly, Seq("event_type", "h"), "left")
          .select(col("event_type"), col("h").as("bucket_start"),
            coalesce(col("n"), lit(0L)).as("n_events"))
          .orderBy("event_type", "bucket_start")
      },
      Some("""
        WITH hourly AS (SELECT event_type,
                               CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
                               count(*) AS n
                        FROM events GROUP BY 1, 2),
        b AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY 1),
        spine AS (SELECT event_type, unnest(generate_series(lo, hi, 3600)) AS h FROM b)
        SELECT s.event_type, s.h AS bucket_start, coalesce(hourly.n, 0) AS n_events
        FROM spine s LEFT JOIN hourly
          ON hourly.event_type = s.event_type AND hourly.h = s.h
        ORDER BY 1, 2""")),

    QDef(
      "agg_retention_cohorts",
      (s, dir) => {
        // classic retention triangle: cohort users by first-activity
        // day, count distinct actives per (cohort, day offset). Two
        // aggregations + one equi-join on user_id — the first-touch
        // frame is one row per user (skinny at any scale; AQE
        // broadcasts it when it fits). Days as epoch seconds of
        // midnight (engine-portable, as in f_datetime_trunc); the
        // offset is exact integer div of two midnights.
        val e = tbl(s, dir, "events")
          .select(col("user_id"),
            unix_timestamp(date_trunc("day", col("ts"))).as("d"))
        val first = e.groupBy("user_id").agg(min(col("d")).as("cohort_start"))
        e.join(first, Seq("user_id"))
          .select(col("user_id"), col("cohort_start"),
            expr("(d - cohort_start) div 86400").as("day_offset"))
          .groupBy("cohort_start", "day_offset")
          .agg(countDistinct(col("user_id")).as("n_active"))
          .orderBy("cohort_start", "day_offset")
      },
      Some("""
        WITH e AS (SELECT user_id,
                          CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS d
                   FROM events),
        f AS (SELECT user_id, min(d) AS cohort_start FROM e GROUP BY 1)
        SELECT f.cohort_start, (e.d - f.cohort_start) // 86400 AS day_offset,
               count(DISTINCT e.user_id) AS n_active
        FROM e JOIN f ON f.user_id = e.user_id
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    QDef(
      "win_streak_topk",
      (s, dir) => {
        // longest consecutive-day activity streak per user — the
        // arithmetic gaps-and-islands form: distinct active days, then
        // day_number - row_number is constant exactly within a
        // consecutive run, so one partitioned window + two aggregations
        // find every user's longest streak with no self-join.
        val d = tbl(s, dir, "events")
          .select(col("user_id"),
            unix_timestamp(date_trunc("day", col("ts"))).as("d"))
          .distinct()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("d")
        d.withColumn("rn", row_number().over(w))
          .select(col("user_id"), expr("d div 86400 - rn").as("grp"))
          .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
          .groupBy("user_id").agg(max(col("len")).as("max_streak_days"))
          .orderBy(col("max_streak_days").desc, col("user_id"))
          .limit(20)
      },
      Some("""
        WITH d AS (SELECT DISTINCT user_id,
                          CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS d
                   FROM events),
        g AS (SELECT user_id,
                     d // 86400 - row_number() OVER (PARTITION BY user_id ORDER BY d)
                       AS grp
              FROM d),
        runs AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2)
        SELECT user_id, CAST(max(len) AS BIGINT) AS max_streak_days
        FROM runs GROUP BY 1
        ORDER BY max_streak_days DESC, user_id LIMIT 20""")),

    QDef(
      "agg_pareto_frontier",
      (s, dir) => {
        // 2-D skyline (Borzsonyi/Kossmann/Stocker, ICDE 2001): parts not
        // dominated on (min price, max size). Pre-aggregating to the
        // best size per distinct price collapses the input to the price
        // domain BEFORE the global sweep, so the unpartitioned window —
        // the textbook sorted skyline scan — runs over a frame bounded
        // by |distinct prices|, not |parts|. Money in integer cents.
        val pp = tbl(s, dir, "part")
          .groupBy(cents(col("p_retailprice")).as("price_c"))
          .agg(max(col("p_size")).as("best_size"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("price_c")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        pp.withColumn("prev_best", max(col("best_size")).over(w))
          .filter(col("prev_best").isNull || col("best_size") > col("prev_best"))
          .select(col("price_c"), col("best_size"))
          .orderBy("price_c")
      },
      Some("""
        WITH pp AS (SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
                           max(p_size) AS best_size
                    FROM part GROUP BY 1),
        f AS (SELECT price_c, best_size,
                     max(best_size) OVER (ORDER BY price_c
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prev_best
              FROM pp)
        SELECT price_c, best_size FROM f
        WHERE prev_best IS NULL OR best_size > prev_best
        ORDER BY price_c""")),

    // ---- TPC-H-shaped headline queries (integer-cent money math) ------

    QDef(
      "tpch_q6_forecast_revenue",
      (s, dir) =>
        // TPC-H Q6 shape: pure scan -> filter -> single-row agg, zero
        // joins. Every predicate is parquet-pushable (shipdate range,
        // discount band, quantity cap) so at 100 TB the scan skips row
        // groups wholesale; the agg is one map-side-combined partial per
        // partition merged on the driver. Revenue in cents x pct — exact
        // integer math.
        tbl(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            round(col("l_discount") * 100).cast("long").between(2L, 4L) &&
            col("l_quantity") < 24)
          .agg(sum(cents(col("l_extendedprice")) *
            round(col("l_discount") * 100).cast("long")).as("revenue_c3"),
            count(lit(1)).as("n_lines")),
      Some("""
        SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_c3,
               count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 2 AND 4
          AND l_quantity < 24""")),

    QDef(
      "tpch_q10_returned_items",
      (s, dir) => {
        // TPC-H Q10 shape: revenue lost to returns, per customer, one
        // quarter. The order-date filter lands on the orders scan
        // (pushed) and the returnflag filter on the lineitem scan, so
        // the join sees both sides pre-shrunk; customer/nation attach
        // afterward — nation broadcast, customer a shuffle join keyed on
        // the already-aggregated custkey grain.
        val li = tbl(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R")
          .withColumn("rev_c2",
            cents(col("l_extendedprice")) * (lit(100L) - round(col("l_discount") * 100).cast("long")))
        val o = tbl(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
        val perCust = li.join(o, li("l_orderkey") === o("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(sum(col("rev_c2")).as("revenue_c2"))
        perCust
          .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("n_name"),
            cents(col("c_acctbal")).as("acctbal_c"), col("revenue_c2"))
          .orderBy(col("revenue_c2").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""
        WITH perCust AS (
          SELECT o_custkey,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c2
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_returnflag = 'R'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1996-07-01'
          GROUP BY o_custkey)
        SELECT c_custkey, c_name, n_name,
               CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_c, revenue_c2
        FROM perCust JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        ORDER BY revenue_c2 DESC, c_custkey LIMIT 20""")),

    QDef(
      "tpch_q14_promo_revenue",
      (s, dir) => {
        // TPC-H Q14 shape: one month of lineitem joined to the part
        // dimension (broadcast — part is the small side at every SF),
        // then a single conditional-sum row. The promo share is returned
        // as exact integer numerator/denominator, not a float ratio —
        // division is the caller's presentation concern.
        val li = tbl(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
          .withColumn("rev_c2",
            cents(col("l_extendedprice")) * (lit(100L) - round(col("l_discount") * 100).cast("long")))
        li.join(broadcast(tbl(s, dir, "part")), col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type") === "PROMO", col("rev_c2")).otherwise(0L))
              .as("promo_rev_c2"),
            sum(col("rev_c2")).as("total_rev_c2"))
      },
      Some("""
        SELECT
          CAST(sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT))
                ELSE 0 END) AS BIGINT) AS promo_rev_c2,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
              * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_rev_c2
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01'
          AND l_shipdate < TIMESTAMP '1996-10-01'""")),

    QDef(
      "tpch_q16_supplier_cnt",
      (s, dir) => {
        // TPC-H Q16 shape (partsupp stood in by the observed
        // part-supplier pairs in lineitem): how many distinct suppliers
        // can provide each (brand, type, size) bucket. The selective
        // dimension filter joins BELOW the dedup (round 11): 8 sizes of
        // ~50 cut lineitem to ~16% before anything shuffles, and the
        // dedup then runs directly at the OUTPUT-side grain —
        // distinct (brand, type, size, suppkey) — so the old
        // pair-grain distinct + countDistinct expand (two full-width
        // shuffles of all observed pairs) collapses to one shuffle of
        // the filtered stream + a plain count (sf1: 5.4 → ~1.5 s).
        // Same result: countDistinct(suppkey) per (b,t,s) counts
        // exactly the distinct (b,t,s,suppkey) tuples, whether pairs
        // dedup first or not.
        val bpart = broadcast(tbl(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#45" &&
            col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
          .select(col("p_partkey"), col("p_brand"), col("p_type"),
            col("p_size")))
        tbl(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"))
          .join(bpart, col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"), col("p_type"), col("p_size"),
            col("l_suppkey"))
          .distinct()
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(count(lit(1)).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
      },
      Some("""
        WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM pairs JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#45' AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

    QDef(
      "tpch_q19_discounted_revenue",
      (s, dir) => {
        // TPC-H Q19 shape: an OR-of-ANDs predicate spanning both join
        // sides. The per-side halves of each disjunct are pushed BELOW
        // the join (part prefiltered to the three brand/size envelopes,
        // lineitem to the overall quantity envelope) so the broadcast
        // hash join evaluates the residual OR over a pre-shrunk stream —
        // the planner can't split an OR across tables by itself.
        val p = tbl(s, dir, "part")
          .filter((col("p_brand") === "Brand#12" && col("p_size").between(1, 5)) ||
            (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)) ||
            (col("p_brand") === "Brand#34" && col("p_size").between(1, 15)))
        val li = tbl(s, dir, "lineitem")
          .filter(col("l_quantity").between(1, 30))
          .withColumn("rev_c2",
            cents(col("l_extendedprice")) * (lit(100L) - round(col("l_discount") * 100).cast("long")))
        li.join(broadcast(p), col("l_partkey") === col("p_partkey") &&
            ((col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11)) ||
             (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20)) ||
             (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30))))
          .agg(sum(col("rev_c2")).as("revenue_c2"), count(lit(1)).as("n_lines"))
      },
      Some("""
        SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c2,
               count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)""")),

    QDef(
      "tpch_q7_nation_volume",
      (s, dir) => {
        // TPC-H Q7 shape: bilateral shipping volume between two trading
        // nations, by supplier/customer nation pair and ship year. Both
        // nation filters are dimension-side (tiny, broadcast); the OR
        // over the two directions is evaluated once on the joined
        // dimension keys, never on the fact stream; the year comes off
        // the pushed lineitem scan.
        val n1 = tbl(s, dir, "nation")
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val n2 = tbl(s, dir, "nation")
          .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        val li = tbl(s, dir, "lineitem")
          .withColumn("rev_c2",
            cents(col("l_extendedprice")) * (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .withColumn("l_year", year(col("l_shipdate")).cast("long"))
        li.join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(tbl(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
          .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
          .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
          .agg(sum(col("rev_c2")).as("revenue_c2"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("""
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c2
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
           OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    QDef(
      "tpch_q8_market_share",
      (s, dir) => {
        // TPC-H Q8 shape: one nation's revenue share inside one
        // region's customer market for one part class, by ship year —
        // share reported as exact integer numerator/denominator (the
        // conditional and unconditional revenue sums), not a float
        // ratio. Dimension chain customer→nation→region prefilters on
        // the broadcast side; the part-class filter lands on the
        // broadcast part dim; the fact stream joins equi-only.
        val custRegion = tbl(s, dir, "customer")
          .join(broadcast(tbl(s, dir, "nation")
            .select(col("n_nationkey"), col("n_regionkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(tbl(s, dir, "region")
            .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("c_custkey"))
        val suppNation = tbl(s, dir, "supplier")
          .join(broadcast(tbl(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("supp_nation"))
        val li = tbl(s, dir, "lineitem")
          .withColumn("rev_c2",
            cents(col("l_extendedprice")) * (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .withColumn("l_year", year(col("l_shipdate")).cast("long"))
        li.join(broadcast(tbl(s, dir, "part").filter(col("p_type") === "PROMO")),
            col("l_partkey") === col("p_partkey"))
          .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(custRegion, col("o_custkey") === col("c_custkey"), "left_semi")
          .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_year"))
          .agg(sum(when(col("supp_nation") === "NATION_3", col("rev_c2")).otherwise(0L))
              .as("nation_rev_c2"),
            sum(col("rev_c2")).as("total_rev_c2"))
          .orderBy("l_year")
      },
      Some("""
        SELECT CAST(year(l_shipdate) AS BIGINT) AS l_year,
          CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
                THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT))
                ELSE 0 END) AS BIGINT) AS nation_rev_c2,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
              * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_rev_c2
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        GROUP BY 1 ORDER BY 1""")),

    QDef(
      "pipeline_dq_audit",
      (s, dir) => {
        // declarative data-quality audit — the pre-training-ingest
        // contract check: referential integrity (anti joins), key
        // uniqueness, domain ranges, null gates, and cross-table
        // sequence sanity, each emitted as one (rule, n_violations)
        // row INCLUDING zeros (a passing rule must be visibly checked,
        // not silently absent). Every rule is a scan + map-side agg or
        // a key anti-join — nothing quadratic; at 100 TB each rule is
        // one bounded pass and the union is free.
        val o = tbl(s, dir, "orders")
        val li = tbl(s, dir, "lineitem")
        def rule(name: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_violations"))
            .select(lit(name).as("rule"), col("n_violations"))
        rule("fk_orders_customer",
            o.join(tbl(s, dir, "customer"),
              col("o_custkey") === col("c_custkey"), "left_anti"))
          .unionAll(rule("fk_lineitem_orders",
            li.join(o.select("o_orderkey"),
              col("l_orderkey") === col("o_orderkey"), "left_anti")))
          .unionAll(rule("uniq_orderkey",
            o.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
              .filter(col("c") > 1)))
          .unionAll(rule("range_discount",
            li.filter(col("l_discount") < 0 || col("l_discount") > 0.1)))
          .unionAll(rule("range_quantity",
            li.filter(col("l_quantity") < 1 || col("l_quantity") > 50)))
          .unionAll(rule("null_event_user",
            tbl(s, dir, "events").filter(col("user_id").isNull)))
          .unionAll(rule("ship_before_order",
            li.join(o, col("l_orderkey") === col("o_orderkey"))
              .filter(col("l_shipdate") < col("o_orderdate"))))
          .orderBy("rule")
      },
      Some("""
        SELECT rule, n_violations FROM (
          SELECT 'fk_orders_customer' AS rule, count(*) AS n_violations
          FROM orders o WHERE NOT EXISTS
            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
          UNION ALL
          SELECT 'fk_lineitem_orders', count(*)
          FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
          UNION ALL
          SELECT 'uniq_orderkey', count(*) FROM
            (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
          UNION ALL
          SELECT 'range_discount', count(*) FROM lineitem
          WHERE l_discount < 0 OR l_discount > 0.1
          UNION ALL
          SELECT 'range_quantity', count(*) FROM lineitem
          WHERE l_quantity < 1 OR l_quantity > 50
          UNION ALL
          SELECT 'null_event_user', count(*) FROM events WHERE user_id IS NULL
          UNION ALL
          SELECT 'ship_before_order', count(*)
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE l_shipdate < o_orderdate)
        ORDER BY rule""")),

    QDef(
      "pipeline_dataset_diff",
      (s, dir) => {
        // corpus snapshot diff — the release audit between dataset
        // versions: full outer join on doc_id classifies every row as
        // added / removed / changed / unchanged. Snapshot B is derived
        // deterministically from A (drop id%7, revise text at id%11,
        // add re-keyed copies at id%13) so the oracle replays the same
        // derivation; in production B is just the other snapshot's
        // path. One shuffle on the join key; the classifier is a
        // per-row CASE.
        val a = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        val bKeep = a.filter(expr("doc_id % 7 != 0"))
          .withColumn("text", when(expr("doc_id % 11 = 0"),
            concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
        val bNew = a.filter(expr("doc_id % 13 = 0"))
          .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text"))
        val b = bKeep.unionByName(bNew)
        a.select(col("doc_id"), col("text").as("a_text"))
          .join(b.select(col("doc_id"), col("text").as("b_text")), Seq("doc_id"), "full_outer")
          .select(when(col("a_text").isNull, "added")
            .when(col("b_text").isNull, "removed")
            .when(col("a_text") =!= col("b_text"), "changed")
            .otherwise("unchanged").as("status"))
          .groupBy(col("status")).agg(count(lit(1)).as("n"))
          .orderBy("status")
      },
      Some("""
        WITH a AS (SELECT doc_id, text FROM documents),
        bk AS (SELECT doc_id,
                 CASE WHEN doc_id % 11 = 0 THEN text || ' [rev2]' ELSE text END AS text
               FROM documents WHERE doc_id % 7 <> 0),
        bn AS (SELECT doc_id + 10000000 AS doc_id, text FROM documents
               WHERE doc_id % 13 = 0),
        b AS (SELECT * FROM bk UNION ALL SELECT * FROM bn),
        j AS (SELECT a.text AS at, b.text AS bt
              FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        SELECT CASE WHEN at IS NULL THEN 'added'
                    WHEN bt IS NULL THEN 'removed'
                    WHEN at <> bt THEN 'changed'
                    ELSE 'unchanged' END AS status,
               count(*) AS n
        FROM j GROUP BY 1 ORDER BY 1""")),

    QDef(
      "agg_top_paths",
      (s, dir) => {
        // user-journey mining: the most common opening event paths —
        // each user's first 3 events (by time, id-tiebroken) joined
        // into a path string, then counted. The rank window partitions
        // per user (small frames); the path assembly is an ordered
        // in-group sort of <= 3 structs, never a cross-row collect of
        // the full history.
        val ranked = tbl(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_timestamp(col("ts")).as("sec"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("user_id"))
              .orderBy(col("sec"), col("event_id"))))
          .filter(col("rn") <= 3)
        ranked.groupBy(col("user_id"))
          .agg(concat_ws(">",
            transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
              x => x.getField("event_type"))).as("path"))
          .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
          .orderBy(col("n_users").desc, col("path"))
          .limit(20)
      },
      Some("""
        WITH ranked AS (
          SELECT user_id, event_type,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS rn
          FROM events),
        paths AS (SELECT user_id,
                    string_agg(event_type, '>' ORDER BY rn) AS path
                  FROM ranked WHERE rn <= 3 GROUP BY user_id)
        SELECT path, count(*) AS n_users FROM paths
        GROUP BY path ORDER BY n_users DESC, path LIMIT 20""")),

    QDef(
      "pipeline_changelog_compact",
      (s, dir) =>
        // CDC changelog compaction — the lake-table upsert: events are
        // a per-user changelog ordered by (ts, event_id); the latest
        // row wins, and a trailing 'error' op is a tombstone that
        // deletes the key entirely. One shuffle on the key, rank via a
        // partitioned window over each user's (small) history, no
        // global sort — the standard snapshot-from-changelog
        // materialization.
        tbl(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_timestamp(col("ts")).as("sec"),
            round(col("value") * 100).cast("long").as("value_c"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("user_id"))
              .orderBy(col("sec").desc, col("event_id").desc)))
          .filter(col("rn") === 1 && col("event_type") =!= "error")
          .select(col("user_id"), col("event_id").as("last_event_id"),
            col("sec").as("last_sec"), col("value_c").as("last_value_c"))
          .orderBy("user_id"),
      Some("""
        SELECT user_id, event_id AS last_event_id, sec AS last_sec,
               value_c AS last_value_c FROM (
          SELECT user_id, event_id, event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                 CAST(round(value * 100) AS BIGINT) AS value_c,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
                            event_id DESC) AS rn
          FROM events) t
        WHERE rn = 1 AND event_type <> 'error'
        ORDER BY user_id""")),

    QDef(
      "pipeline_shard_manifest",
      (s, dir) =>
        // reproducible sharding manifest: docs assigned to 16 shards by
        // doc_id mod (the world-size split every distributed training
        // loader does), with per-shard row/char totals and id ranges —
        // the manifest a loader checks before touching any shard. One
        // map-side-combined aggregation over a 16-value key.
        tbl(s, dir, "documents")
          .groupBy(expr("doc_id % 16").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            min(col("doc_id")).as("min_doc_id"),
            max(col("doc_id")).as("max_doc_id"))
          .orderBy("shard"),
      Some("""
        SELECT doc_id % 16 AS shard, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        FROM documents GROUP BY 1 ORDER BY 1""")),

    QDef(
      "tpch_q4_order_priority",
      (s, dir) => {
        // TPC-H Q4 shape: order-priority counts over a quarter, gated
        // by EXISTS — here "some line shipped after the order date"
        // (the schema's stand-in for commit<receipt). The EXISTS is a
        // left-semi join: the fact side deduplicates to matching
        // orderkeys during the join itself, no count-then-filter, and
        // the date window lands on the orders scan as a pushed filter.
        val o = tbl(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        val late = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
        o.join(late,
            o("o_orderkey") === late("l_orderkey") &&
              late("l_shipdate") > o("o_orderdate"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    QDef(
      "tpch_q13_order_distribution",
      (s, dir) => {
        // TPC-H Q13 shape: the customer order-count histogram INCLUDING
        // zero-order customers — a left outer join (so silent customers
        // survive with count 0) followed by two cascaded
        // map-side-combined aggregations. The double group-by collapses
        // |customers| to |distinct order counts| before the final sort.
        val perCust = tbl(s, dir, "customer")
          .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
        perCust.groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""
        WITH pc AS (SELECT c_custkey, count(o_orderkey) AS c_count
                    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                    GROUP BY c_custkey)
        SELECT c_count, count(*) AS custdist
        FROM pc GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC""")),

    QDef(
      "agg_rfm_segments",
      (s, dir) => {
        // RFM customer segmentation: per-user recency (last purchase
        // second), frequency (purchase count) and monetary (total
        // cents), each cut into terciles over a TIE-BROKEN total order
        // (user_id appended), then segment population counts — 27
        // possible (r,f,m) codes. NO unpartitioned ntile window (that
        // funnels |users| rows through ONE task, three times): each
        // metric's global rank is (exclusive cum-count of smaller
        // metric VALUES, via the two-phase globalCumSum over the
        // distinct-value frame) + (row_number within the value,
        // partitioned by value — parallel), and the tercile comes from
        // the exact ntile arithmetic on (rank, n). Every stage is a
        // keyed shuffle; nothing is single-task at 10^9 users.
        val base = tbl(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(max(unix_timestamp(col("ts"))).as("last_sec"),
            count(lit(1)).as("freq"),
            sum(round(col("value") * 100).cast("long")).as("monetary_c"))
          .localCheckpoint(true)
        val nUsers = org.apache.spark.sql.graft.ColumnBridge.scalar(
          base.agg(count(lit(1))))
        // exact integer division for non-negative longs (Column `/` is
        // floating-point division)
        import org.apache.spark.sql.Column
        def idiv(a: Column, b: Column): Column =
          ((a - (a % b)) / b).cast("long")
        // ntile(3) semantics: with n = 3q + r rows, tiles 1..r get q+1
        // rows, tiles r+1..3 get q — reproduced from the 1-based rank
        def tercile(rk: Column, n: Column): Column = {
          val q = idiv(n, lit(3L)); val r = n % 3
          val big = q + 1; val cut = r * big
          when(rk <= cut, idiv(rk - 1, big) + 1)
            .otherwise(idiv(rk - cut - 1, q) + r + 1)
            .cast("int")
        }
        def tiles(metric: String, out: String): org.apache.spark.sql.DataFrame = {
          val cnts = base.groupBy(col(metric).as("v"))
            .agg(count(lit(1)).as("c"))
          val cum = graft.operators.Windows.globalCumSum(cnts, "v", Seq("c"))
            .select(col("v"), (col("cum_c") - col("c")).as("prev"))
          base.select(col("user_id"), col(metric).as("v"))
            .join(cum, "v")
            .withColumn("rk", col("prev") + row_number().over(
              Window.partitionBy(col("v")).orderBy(col("user_id"))))
            .select(col("user_id"), tercile(col("rk"), nUsers).as(out))
        }
        tiles("last_sec", "r")
          .join(tiles("freq", "f"), "user_id")
          .join(tiles("monetary_c", "m"), "user_id")
          .groupBy(col("r"), col("f"), col("m"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("r", "f", "m")
      },
      Some("""
        WITH base AS (SELECT user_id,
                        max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_sec,
                        count(*) AS freq,
                        CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                          AS monetary_c
                      FROM events WHERE event_type = 'purchase'
                      GROUP BY user_id),
        seg AS (SELECT
                  ntile(3) OVER (ORDER BY last_sec, user_id) AS r,
                  ntile(3) OVER (ORDER BY freq, user_id) AS f,
                  ntile(3) OVER (ORDER BY monetary_c, user_id) AS m
                FROM base)
        SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
               count(*) AS n_users
        FROM seg GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    QDef(
      "agg_time_to_convert",
      (s, dir) => {
        // conversion-latency histogram: per user, first 'view' then the
        // first 'purchase' AT OR AFTER it; the delta bucketed by hour.
        // Two user-grain min-aggregations and one co-partitioned
        // user-keyed join — the classic funnel-latency shape with no
        // window and nothing global; integer bucket arithmetic keeps
        // the hash gate exact.
        val ev = tbl(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            unix_timestamp(col("ts")).as("sec"))
        val firstView = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("sec")).as("view_sec"))
        val conv = ev.filter(col("event_type") === "purchase")
          .join(firstView, "user_id")
          .filter(col("sec") >= col("view_sec"))
          .groupBy(col("user_id"))
          .agg((min(col("sec")) - min(col("view_sec"))).as("delta_sec"))
        conv.groupBy(expr("delta_sec div 3600").as("hours_bucket"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("hours_bucket")
      },
      Some("""
        WITH ev AS (SELECT user_id, event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        fv AS (SELECT user_id, min(sec) AS view_sec FROM ev
               WHERE event_type = 'view' GROUP BY 1),
        cv AS (SELECT e.user_id,
                 min(e.sec) - min(fv.view_sec) AS delta_sec
               FROM ev e JOIN fv ON fv.user_id = e.user_id
               WHERE e.event_type = 'purchase' AND e.sec >= fv.view_sec
               GROUP BY 1)
        SELECT delta_sec // 3600 AS hours_bucket, count(*) AS n_users
        FROM cv GROUP BY 1 ORDER BY 1""")),

    QDef(
      "agg_retention_weekly",
      (s, dir) => {
        // weekly cohort retention: each user's cohort is their first
        // active week; the (cohort, week-offset) matrix counts distinct
        // users still active N weeks later. Shapes: one user-grain
        // min-aggregation, one distinct on the (user, week) grain, one
        // user-keyed equi-join (co-partitioned — both sides hash on
        // user_id), then a cells-grain count-distinct. Nothing global,
        // nothing windowed; at 10^9 users every stage stays keyed.
        val ev = tbl(s, dir, "events")
          .select(col("user_id"),
            expr("(unix_timestamp(ts) div 86400) div 7").as("wk"))
        val active = ev.distinct()
        val cohort = active.groupBy(col("user_id"))
          .agg(min(col("wk")).as("cohort_wk"))
        active.join(cohort, "user_id")
          .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_wk", "offset_wk")
      },
      Some("""
        WITH ev AS (SELECT DISTINCT user_id,
                      (CAST(floor(epoch(ts)) AS BIGINT) // 86400) // 7 AS wk
                    FROM events),
        co AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1)
        SELECT co.cohort_wk, ev.wk - co.cohort_wk AS offset_wk,
               count(DISTINCT ev.user_id) AS n_users
        FROM ev JOIN co ON co.user_id = ev.user_id
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    QDef(
      "agg_cohort_revenue",
      (s, dir) => {
        // cohort LTV curves: purchase revenue by (signup cohort week ×
        // weeks-since-signup), with the running cumulative — the
        // money-side companion to agg_retention_weekly (same cohort
        // keying, revenue instead of presence). Revenue sums as exact
        // cents; the cumulative window partitions by COHORT over the
        // bounded weeks-offset domain, so the expensive stages are one
        // user-grain min, one user-keyed equi-join, one cells-grain sum
        // — keyed all the way at any user count.
        val ev = tbl(s, dir, "events")
          .select(col("user_id"),
            expr("(unix_timestamp(ts) div 86400) div 7").as("wk"),
            when(col("event_type") === "purchase",
              round(col("value") * 100).cast("long")).otherwise(0L).as("rev_c"))
        val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
        val cells = ev.join(cohort, "user_id")
          .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
          .agg(sum(col("rev_c")).as("rev_c"))
        val w = Window.partitionBy(col("cohort_wk")).orderBy(col("offset_wk"))
        cells
          .withColumn("cum_rev_c", sum(col("rev_c")).over(w))
          .orderBy("cohort_wk", "offset_wk")
      },
      Some("""
        WITH ev AS (SELECT user_id,
                      (CAST(floor(epoch(ts)) AS BIGINT) // 86400) // 7 AS wk,
                      CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END AS rev_c
                    FROM events),
        co AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1),
        cells AS (SELECT co.cohort_wk, ev.wk - co.cohort_wk AS offset_wk,
                    CAST(sum(ev.rev_c) AS BIGINT) AS rev_c
                  FROM ev JOIN co ON co.user_id = ev.user_id
                  GROUP BY 1, 2)
        SELECT cohort_wk, offset_wk, rev_c,
               CAST(sum(rev_c) OVER (PARTITION BY cohort_wk ORDER BY offset_wk)
                 AS BIGINT) AS cum_rev_c
        FROM cells ORDER BY cohort_wk, offset_wk""")),

    QDef(
      "tpch_q15_top_supplier",
      (s, dir) => {
        // TPC-H Q15 shape: the revenue view (per-supplier quarter
        // revenue) gated by its own global maximum — the max attaches
        // as an uncorrelated scalar subquery over the SAME aggregated
        // frame, so the fact table is scanned once and the gate costs
        // one 1-row lookup, not a second pass.
        val rev = tbl(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .groupBy(col("l_suppkey"))
          .agg(sum(cents(col("l_extendedprice")) *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("total_rev_c2"))
        val maxRev = org.apache.spark.sql.graft.ColumnBridge.scalar(
          rev.agg(max(col("total_rev_c2")).as("m")))
        rev.filter(col("total_rev_c2") === maxRev)
          .join(broadcast(tbl(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_rev_c2"))
          .orderBy("s_suppkey")
      },
      Some("""
        WITH rev AS (
          SELECT l_suppkey,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
              AS total_rev_c2
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_rev_c2
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_rev_c2 = (SELECT max(total_rev_c2) FROM rev)
        ORDER BY s_suppkey""")),

    QDef(
      "tpch_q17_small_quantity",
      (s, dir) => {
        // TPC-H Q17 shape: revenue locked in small orders — lines of
        // one brand's parts whose quantity is below HALF the part's
        // average quantity. The correlated subquery becomes a join on
        // the pre-aggregated part grain, and the avg comparison
        // cross-multiplies into integers (2*qty*n < sum_qty), so the
        // gate is exact — no float avg, no correlated rescan.
        val li = tbl(s, dir, "lineitem")
        val perPart = li.groupBy(col("l_partkey").as("pk"))
          .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
            count(lit(1)).as("n_lines"))
        li.join(broadcast(tbl(s, dir, "part").filter(col("p_brand") === "Brand#23")),
            col("l_partkey") === col("p_partkey"))
          .join(perPart, col("l_partkey") === col("pk"))
          .filter(col("l_quantity").cast("long") * 2 * col("n_lines") < col("sum_qty"))
          .agg(sum(cents(col("l_extendedprice"))).as("small_qty_rev_c"),
            count(lit(1)).as("n_lines_small"))
      },
      Some("""
        WITH pp AS (SELECT l_partkey AS pk,
                      CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
                      count(*) AS n_lines
                    FROM lineitem GROUP BY 1)
        SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS small_qty_rev_c,
               count(*) AS n_lines_small
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#23'
        JOIN pp ON l_partkey = pk
        WHERE CAST(l_quantity AS BIGINT) * 2 * n_lines < sum_qty""")),

    QDef(
      "tpch_q22_global_sales_opportunity",
      (s, dir) => {
        // TPC-H Q22 shape: well-funded customers who never ordered —
        // the "dormant money" report. The above-average gate
        // cross-multiplies into integers (bal_c * n_pos > sum_pos, no
        // float avg), the positive-balance moments attach as scalar
        // subqueries, and "never ordered" is a left-anti join (the
        // dual of Q4's semi). Grouped by market segment (the schema's
        // stand-in for the phone country code).
        val c = tbl(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"),
            cents(col("c_acctbal")).as("bal_c"))
        val pos = c.filter(col("bal_c") > 0)
        val nPos = org.apache.spark.sql.graft.ColumnBridge.scalar(
          pos.agg(count(lit(1)).as("n")))
        val sumPos = org.apache.spark.sql.graft.ColumnBridge.scalar(
          pos.agg(sum(col("bal_c")).as("s")))
        val recent = tbl(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
          .select(col("o_custkey"))
        c.filter(col("bal_c") * nPos > sumPos)
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("numcust"), sum(col("bal_c")).as("totacctbal_c"))
          .orderBy("c_mktsegment")
      },
      Some("""
        WITH c AS (SELECT c_custkey, c_mktsegment,
                     CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
                   FROM customer),
        p AS (SELECT count(*) AS n, CAST(sum(bal_c) AS BIGINT) AS s
              FROM c WHERE bal_c > 0)
        SELECT c_mktsegment, count(*) AS numcust,
               CAST(sum(bal_c) AS BIGINT) AS totacctbal_c
        FROM c
        WHERE bal_c * (SELECT n FROM p) > (SELECT s FROM p)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    QDef(
      "tpch_q18_large_orders",
      (s, dir) => {
        // TPC-H Q18 shape: orders whose total quantity clears a HAVING
        // gate, joined back to customer detail. The gate runs FIRST on
        // the fact table's own grain (map-side-combined sum per order),
        // so the joins only ever see the few surviving orderkeys —
        // filter-before-join, the order-of-magnitude lever at scale.
        val big = tbl(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
          .filter(col("total_qty") > 300)
        tbl(s, dir, "orders")
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_mktsegment"), col("o_orderkey"),
            unix_timestamp(date_trunc("day", col("o_orderdate"))).as("o_date"),
            cents(col("o_totalprice")).as("total_cents"), col("total_qty"))
          .orderBy(col("total_qty").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""
        WITH big AS (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
                     FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300)
        SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey,
               CAST(floor(epoch(date_trunc('day', o.o_orderdate))) AS BIGINT) AS o_date,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents,
               b.total_qty
        FROM big b JOIN orders o ON o.o_orderkey = b.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        ORDER BY b.total_qty DESC, o.o_orderkey LIMIT 100""")),

    QDef(
      "tpch_q1_pricing_summary",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .withColumn("price_c", cents(col("l_extendedprice")))
          .withColumn("disc_pct", round(col("l_discount") * 100).cast("long"))
          .withColumn("tax_pct", round(col("l_tax") * 100).cast("long"))
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).cast("long").as("sum_qty"),
            sum(col("price_c")).as("sum_base_price_c"),
            sum(col("price_c") * (lit(100L) - col("disc_pct"))).as("sum_disc_price_c2"),
            sum(col("price_c") * (lit(100L) - col("disc_pct")) * (lit(100L) + col("tax_pct")))
              .as("sum_charge_c3"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_c,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_price_c2,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l_discount * 100) AS BIGINT))
                   * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS BIGINT) AS sum_charge_c3,
               count(*) AS count_order
        FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""")),

    QDef(
      "tpch_q3_shipping_priority",
      (s, dir) => {
        val c = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = tbl(s, dir, "orders")
        val li = tbl(s, dir, "lineitem")
          .withColumn("rev_c2",
            cents(col("l_extendedprice")) * (lit(100L) - round(col("l_discount") * 100).cast("long")))
        val top = li
          .join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(col("l_orderkey"))
          .agg(sum(col("rev_c2")).as("revenue_c2"))
        // top-10 via sort+limit -> TakeOrderedAndProject (per-partition
        // top-k + driver merge of 10-row heads), NOT a row_number over a
        // global Window, which would funnel every group through a single
        // partition. Ranks are attached after the limit: the window then
        // sees only 10 rows.
        top.orderBy(col("revenue_c2").desc, col("l_orderkey")).limit(10)
          .withColumn("rk", row_number().over(
            Window.orderBy(col("revenue_c2").desc, col("l_orderkey"))))
          .select("l_orderkey", "revenue_c2", "rk")
      },
      Some("""
        WITH rev AS (
          SELECT l_orderkey,
            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c2
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
          GROUP BY l_orderkey)
        SELECT l_orderkey, revenue_c2, CAST(rk AS INT) AS rk FROM (
          SELECT *, row_number() OVER (ORDER BY revenue_c2 DESC, l_orderkey) AS rk
          FROM rev) t
        WHERE rk <= 10""")),

    QDef(
      "tpch_q5_local_supplier_volume",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .withColumn("rev_c2",
            cents(col("l_extendedprice")) * (lit(100L) - round(col("l_discount") * 100).cast("long")))
        val o = tbl(s, dir, "orders")
        val c = tbl(s, dir, "customer")
        val sup = tbl(s, dir, "supplier")
        val n = tbl(s, dir, "nation")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey") &&
            c("c_nationkey") === sup("s_nationkey"))
          .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(col("rev_c2")).as("revenue_c2"))
          .orderBy(col("revenue_c2").desc, col("n_name"))
      },
      Some("""
        SELECT n_name,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
              * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_c2
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name ORDER BY revenue_c2 DESC, n_name""")),

    QDef(
      "agg_ks_distance",
      (s, dir) => {
        // exact two-sample Kolmogorov-Smirnov distance (view vs
        // purchase value distributions) — the distribution-drift gate a
        // training pipeline runs between data snapshots. Collapsed to
        // the distinct value grain, then the distributed global
        // cumulative sum (operators/Windows.globalCumSum: range
        // partition + offset map, NO single-partition window), and the
        // sup-gap as an INTEGER cross-product max:
        // D = d_num / (n1*n2), reported as exact numerator + counts.
        val vals = tbl(s, dir, "events")
          .filter(col("event_type").isin("view", "purchase"))
          .groupBy(cents(col("value")).as("v"))
          .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c1"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c2"))
        val cum = graft.operators.Windows.globalCumSum(vals, "v", Seq("c1", "c2"))
        val n1 = org.apache.spark.sql.graft.ColumnBridge.scalar(
          vals.agg(sum(col("c1")).cast("long").as("n1")))
        val n2 = org.apache.spark.sql.graft.ColumnBridge.scalar(
          vals.agg(sum(col("c2")).cast("long").as("n2")))
        cum.agg(max(abs(col("cum_c1") * n2 - col("cum_c2") * n1)).as("d_num"))
          .withColumn("n1", n1).withColumn("n2", n2)
      },
      Some("""
        WITH vals AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
                        sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c1,
                        sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
                      FROM events WHERE event_type IN ('view', 'purchase')
                      GROUP BY 1),
        c AS (SELECT v, sum(c1) OVER (ORDER BY v) AS cum1,
                sum(c2) OVER (ORDER BY v) AS cum2 FROM vals),
        n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                CAST(sum(c2) AS BIGINT) AS n2 FROM vals)
        SELECT CAST(max(abs(cum1 * (SELECT n2 FROM n)
                 - cum2 * (SELECT n1 FROM n))) AS BIGINT) AS d_num,
               (SELECT n1 FROM n) AS n1, (SELECT n2 FROM n) AS n2
        FROM c""")),

    QDef(
      "agg_gini_concentration",
      (s, dir) => {
        // exact Gini coefficient of document length (is the token mass
        // concentrated in a few giant docs?) as integer moments:
        // G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over the
        // globally sorted lengths. Collapsed to the distinct-length
        // grain (k copies of x starting at rank r contribute
        // x*(k*r + k(k-1)/2) — tie-order invariant), ranks from the
        // distributed global cumsum, division left to the caller.
        val g = tbl(s, dir, "documents")
          .groupBy(col("n_chars").as("x"))
          .agg(count(lit(1)).as("k"))
        val cum = graft.operators.Windows.globalCumSum(g, "x", Seq("k"))
          .withColumn("r", col("cum_k") - col("k") + lit(1L))
          .withColumn("contrib",
            col("x") * (col("k") * col("r") + expr("(k * (k - 1)) div 2")))
        cum.agg(sum(col("k")).as("n"),
            sum(col("x") * col("k")).as("sum_x"),
            sum(col("contrib")).as("s_ix"))
          .select(col("n"), col("sum_x"),
            (lit(2L) * col("s_ix") - (col("n") + lit(1L)) * col("sum_x")).as("g_num"),
            (col("n") * col("sum_x")).as("g_den"))
      },
      Some("""
        WITH r AS (SELECT n_chars AS x,
                     row_number() OVER (ORDER BY n_chars, doc_id) AS i
                   FROM documents)
        SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sum_x,
               CAST(2 * sum(i * x) - (count(*) + 1) * sum(x) AS BIGINT) AS g_num,
               CAST(count(*) * sum(x) AS BIGINT) AS g_den
        FROM r""")),

    QDef(
      "agg_autocorr_daily",
      (s, dir) => {
        // lag-1 autocorrelation of daily traffic as EXACT integer
        // moments (n pairs, sums, squares, cross products over the
        // adjacent-day pairs) — Pearson r1 is a closed form of the five
        // sums, division left to the caller. The daily rollup collapses
        // the fact grain first; the lag window runs over the bounded
        // calendar domain. The "is traffic momentum real" check before
        // anyone fits a forecast.
        val daily = tbl(s, dir, "events")
          .groupBy(unix_timestamp(date_trunc("day", col("ts"))).as("day"))
          .agg(count(lit(1)).as("x"))
        val paired = daily
          .withColumn("x_prev", lag(col("x"), 1).over(
            org.apache.spark.sql.expressions.Window.orderBy(col("day"))))
          .filter(col("x_prev").isNotNull)
        paired.agg(count(lit(1)).as("n_pairs"),
          sum(col("x")).as("s_x"), sum(col("x_prev")).as("s_p"),
          sum(col("x") * col("x")).as("s_xx"),
          sum(col("x_prev") * col("x_prev")).as("s_pp"),
          sum(col("x") * col("x_prev")).as("s_xp"))
      },
      Some("""
        WITH daily AS (
          SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day,
                 count(*) AS x
          FROM events GROUP BY 1),
        p AS (SELECT x, lag(x) OVER (ORDER BY day) AS x_prev FROM daily)
        SELECT count(*) AS n_pairs,
               CAST(sum(x) AS BIGINT) AS s_x,
               CAST(sum(x_prev) AS BIGINT) AS s_p,
               CAST(sum(x * x) AS BIGINT) AS s_xx,
               CAST(sum(x_prev * x_prev) AS BIGINT) AS s_pp,
               CAST(sum(x * x_prev) AS BIGINT) AS s_xp
        FROM p WHERE x_prev IS NOT NULL""")),

    QDef(
      "agg_benford_digits",
      (s, dir) =>
        // Benford's-law audit of order totals: leading-digit counts of
        // the positive integer cents, digit extracted by STRING head —
        // no float log10, whose rounding at exact powers of ten would
        // misbin — one map-side-combined count over a 9-value key. The
        // fraud/data-quality screen for any money column.
        tbl(s, dir, "orders")
          .select(cents(col("o_totalprice")).as("c"))
          .filter(col("c") > 0)
          .select(substring(col("c").cast("string"), 1, 1).cast("long").as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n"))
          .orderBy("digit"),
      Some("""
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                 AS VARCHAR), 1, 1) AS BIGINT) AS digit,
               count(*) AS n
        FROM orders WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
        GROUP BY 1 ORDER BY 1""")),

    QDef(
      "agg_bitmap_distinct",
      (s, dir) =>
        // exact distinct via bitmap words (the roaring-bitmap idea in
        // pure SQL types): user ids pack into 64-bit words keyed by
        // id div 64, bit_or is the mergeable per-word union, popcount
        // sums to the exact distinct count. Two map-side-combined
        // aggregations; unlike count(DISTINCT) the partial state is
        // bounded by the IDSPACE/64 word count, not the row count, and
        // the words are re-mergeable across corpora — the exact
        // counterpart of the HLL sketch family for dense id spaces.
        tbl(s, dir, "events")
          .select(col("event_type"),
            expr("user_id div 64").as("word_idx"),
            expr("shiftleft(1L, cast(user_id % 64 as int))").as("bit"))
          .groupBy(col("event_type"), col("word_idx"))
          .agg(expr("bit_or(bit)").as("word"))
          .groupBy(col("event_type"))
          .agg(sum(bit_count(col("word")).cast("long")).as("n_distinct_users"))
          .orderBy("event_type"),
      Some("""
        SELECT event_type, count(DISTINCT user_id) AS n_distinct_users
        FROM events GROUP BY event_type ORDER BY event_type""")),

    QDef(
      "scan_ts_generations",
      (s, dir) => {
        // schema-drift-tolerant scan: the same event stream written by
        // two pipeline generations — one with ts as a nanos-since-epoch
        // LONG (the legacy lake layout), one as TIMESTAMP_NTZ micros
        // (the current writer) — read back through one normalizing
        // reader and unioned. This is the drift the corpus actually
        // exhibited across driver data generations; the reader maps
        // both to a session TIMESTAMP so downstream logic never
        // branches on the physical type. Counts and the second-range
        // must come out exactly doubled-and-identical vs the source.
        val out = sys.props("java.io.tmpdir") + "/graft_ts_generations"
        val e = tbl(s, dir, "events")
        e.withColumn("ts", expr("unix_micros(ts) * 1000"))
          .write.mode("overwrite").parquet(s"$out/legacy")
        e.withColumn("ts", col("ts").cast("timestamp_ntz"))
          .write.mode("overwrite").parquet(s"$out/current")
        Registry.normalizeTs(s.read.parquet(s"$out/legacy"))
          .unionByName(Registry.normalizeTs(s.read.parquet(s"$out/current")))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            min(unix_timestamp(col("ts"))).as("min_sec"),
            max(unix_timestamp(col("ts"))).as("max_sec"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, 2 * count(*) AS n,
               CAST(min(floor(epoch(ts))) AS BIGINT) AS min_sec,
               CAST(max(floor(epoch(ts))) AS BIGINT) AS max_sec
        FROM events GROUP BY event_type ORDER BY event_type""")),

    QDef(
      "agg_weighted_median",
      (s, dir) => {
        // exact QUANTITY-WEIGHTED median unit price per return flag:
        // smallest price where the cumulative quantity reaches half the
        // total — via the two-level bucket decomposition
        // (operators/Quantiles.weightedMedianByGroup): per-(flag,
        // bucket) weight sums locate the crossing bucket on a tiny
        // frame, and only THAT bucket's prices get the in-bucket scan.
        // No per-group sort of the ~200k-price grain, so parallelism is
        // |groups| x |buckets| instead of |groups|. Integer cents and
        // integer quantities throughout: engine-exact.
        graft.operators.Quantiles.weightedMedianByGroup(
            tbl(s, dir, "lineitem")
              .select(col("l_returnflag"), cents(col("l_extendedprice")).as("price_c"),
                col("l_quantity").cast("long").as("w")),
            "l_returnflag", "price_c", "w", bucketWidth = 100000L)
          .withColumnRenamed("price_c", "wmedian_price_c")
          .orderBy("l_returnflag")
      },
      Some("""
        WITH pp AS (SELECT l_returnflag,
                      CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                      CAST(sum(l_quantity) AS BIGINT) AS w
                    FROM lineitem GROUP BY 1, 2),
        c AS (SELECT l_returnflag, price_c,
                sum(w) OVER (PARTITION BY l_returnflag ORDER BY price_c
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                sum(w) OVER (PARTITION BY l_returnflag) AS total
              FROM pp)
        SELECT l_returnflag, CAST(min(price_c) AS BIGINT) AS wmedian_price_c
        FROM c WHERE cum * 2 >= total
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    QDef(
      "sink_parquet_partitioned",
      (s, dir) => {
        // the lake layout write: parquet partitioned by a low-cardinality
        // column (lang), then a pruned read-back — the filter becomes a
        // PartitionFilter on the scan, so a 100 TB corpus query over one
        // language reads one directory, not the lake
        // (PartitionPruneSpec asserts the pruned plan shape + file
        // counts). The write
        // runs from executor tasks; partitionBy adds no extra shuffle on
        // top of the scan.
        val out = sys.props("java.io.tmpdir") + "/graft_sink_parquet_partitioned"
        tbl(s, dir, "documents")
          .write.mode("overwrite").partitionBy("lang").parquet(out)
        s.read.parquet(out)
          .filter(col("lang") === "en")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents WHERE lang = 'en'
        GROUP BY lang ORDER BY lang""")),

    QDef(
      "agg_approx_percentile",
      (s, dir) =>
        // the quantile sketch (GK summaries): one map-side-combined pass,
        // mergeable partials — the 100 TB shape where a global sort is
        // unaffordable. At this accuracy the summary holds every group
        // member, so the answer is the exact discrete quantile and the
        // DuckDB oracle can match it value-for-value; production lowers
        // the accuracy knob and keeps the identical plan (the
        // exact-vs-sketch error budget is SketchSpec's business).
        tbl(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(percentile_approx(col("l_quantity"),
            array(lit(0.5), lit(0.9), lit(0.99)), lit(1000000)).as("qs"))
          .select(col("l_returnflag"),
            element_at(col("qs"), 1).as("p50"),
            element_at(col("qs"), 2).as("p90"),
            element_at(col("qs"), 3).as("p99"))
          .orderBy("l_returnflag"),
      Some("""
        SELECT l_returnflag,
               quantile_disc(l_quantity, 0.5) AS p50,
               quantile_disc(l_quantity, 0.9) AS p90,
               quantile_disc(l_quantity, 0.99) AS p99
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    QDef(
      "agg_hll_distinct_merge",
      // Spark's Datasketches HLL estimate is a value DuckDB's own HLL
      // cannot reproduce, so the RAW estimate can never hash-match an
      // oracle. The oracle-checkable columns are therefore the
      // contract: the exact per-source distinct count plus the sketch's
      // error-envelope verdict (est within 5% of exact — the same
      // envelope SketchSpec pins). The HLL estimate is still computed
      // (the verdict derives from it, including the per-shard
      // sketches-MERGE-without-re-touching-rows step that matters at
      // 100 TB); only its raw value stays out of the hashed surface.
      (s, dir) => {
        val perSource = tbl(s, dir, "documents")
          .groupBy(col("source"))
          .agg(hll_sketch_agg(col("doc_id")).as("sk"),
            countDistinct(col("doc_id")).as("exact_distinct"))
        def audited(df: org.apache.spark.sql.DataFrame) =
          df.select(col("source"), col("exact_distinct"),
            (abs(col("est_distinct") - col("exact_distinct")) <=
              col("exact_distinct") * 0.05).as("est_within_5pct"))
        val bySource = audited(perSource.select(col("source"),
          hll_sketch_estimate(col("sk")).as("est_distinct"),
          col("exact_distinct")))
        // the sketch property that matters at scale: per-shard sketches
        // MERGE into the corpus-wide answer without re-touching rows
        // (doc_id is unique, so per-source exact counts sum exactly)
        val merged = audited(perSource.agg(
            hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_distinct"),
            sum(col("exact_distinct")).as("exact_distinct"))
          .select(lit("__all__").as("source"),
            col("est_distinct"), col("exact_distinct")))
        bySource.unionByName(merged).orderBy("source")
      },
      Some("""
        WITH s AS (SELECT source, count(DISTINCT doc_id) AS exact_distinct
                   FROM documents GROUP BY source)
        SELECT source, exact_distinct, TRUE AS est_within_5pct FROM s
        UNION ALL
        SELECT '__all__' AS source,
               CAST(sum(exact_distinct) AS BIGINT) AS exact_distinct,
               TRUE AS est_within_5pct
        FROM s
        ORDER BY source""")),

    QDef(
      "sink_jsonl_export",
      (s, dir) => {
        // the LLM-corpus interchange format: documents exported as
        // JSON-lines from executor tasks, re-scanned with an explicit
        // schema (never inferred — schema inference re-reads the whole
        // lake), and audited per source. The re-scan must reproduce the
        // source table exactly; the oracle aggregates the original.
        val out = sys.props("java.io.tmpdir") + "/graft_sink_jsonl_export"
        val docs = tbl(s, dir, "documents")
        docs.write.mode("overwrite").json(out)
        s.read.schema(docs.schema).json(out)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(length(col("text")).cast("long")).as("sum_text_len"))
          .orderBy("source")
      },
      Some("""
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               CAST(sum(length(text)) AS BIGINT) AS sum_text_len
        FROM documents GROUP BY source ORDER BY source""")),

    QDef(
      "scan_fixed_width",
      (s, dir) => {
        // fixed-width (COBOL/mainframe layout) ingest: the enterprise
        // interchange format Spark has no reader for — lines are
        // positional, schema is offsets+widths, nothing is delimited.
        // Round-trip: export customers at fixed offsets
        // (12/6/14/12-char fields, space-padded), re-scan as text, and
        // parse by substring+trim+cast — never inferSchema, never a
        // regex. The parsed frame must reproduce the source exactly;
        // the oracle reads the original table. The output path is
        // suffixed per sf-dir so concurrent sessions on different
        // scales don't race on one directory, and every line's total
        // width is asserted before parsing — format_string silently
        // WIDENS a field whose value overflows its width, which would
        // shift all downstream offsets and corrupt the parse rather
        // than fail; assert_true turns that into a loud error.
        val out = sys.props("java.io.tmpdir") + "/graft_scan_fixed_width_" +
          f"${scala.util.hashing.MurmurHash3.stringHash(
            new java.io.File(dir).getAbsolutePath)}%08x"
        tbl(s, dir, "customer")
          .select(format_string("%-12d%-6d%-14d%-12s",
            col("c_custkey"), col("c_nationkey"),
            round(col("c_acctbal") * 100).cast("long"),
            col("c_mktsegment")).as("value"))
          .write.mode("overwrite").text(out)
        s.read.text(out)
          .filter(assert_true(length(col("value")) === 44,
            lit("fixed-width layout violated: a field overflowed its width"))
            .isNull)
          .select(
            trim(substring(col("value"), 1, 12)).cast("long").as("c_custkey"),
            trim(substring(col("value"), 13, 6)).cast("long").as("c_nationkey"),
            trim(substring(col("value"), 19, 14)).cast("long").as("acctbal_cents"),
            trim(substring(col("value"), 33, 12)).as("c_mktsegment"))
          .orderBy("c_custkey")
      },
      Some("""
        SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
               CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
               c_mktsegment
        FROM customer ORDER BY c_custkey""")),

    QDef(
      "scan_schema_evolution",
      (s, dir) => {
        // schema evolution across lake generations — the ingest reality
        // every long-lived corpus hits: generation 1 shipped (doc_id,
        // source), generation 2 added a lang column. One mergeSchema
        // read reconciles both (gen-1 rows surface lang = NULL) and
        // partition discovery turns the gen=N directory layout into a
        // queryable column; the audit proves no rows were lost and the
        // new column is populated exactly on the new generation.
        val out = sys.props("java.io.tmpdir") + "/graft_schema_evo_" +
          f"${scala.util.hashing.MurmurHash3.stringHash(
            new java.io.File(dir).getAbsolutePath)}%08x"
        val docs = tbl(s, dir, "documents")
        docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id"), col("source"))
          .write.mode("overwrite").parquet(s"$out/gen=1")
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .select(col("doc_id"), col("source"), col("lang"))
          .write.mode("overwrite").parquet(s"$out/gen=2")
        s.read.option("mergeSchema", "true").parquet(out)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("gen") === 1, 1L).otherwise(0L)).as("n_gen1"),
            sum(when(col("gen") === 2, 1L).otherwise(0L)).as("n_gen2"),
            count(col("lang")).as("n_with_lang"))
          .orderBy("source")
      },
      Some("""
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_gen1,
               CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_gen2,
               CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_with_lang
        FROM documents GROUP BY source ORDER BY source""")),

    QDef(
      "agg_event_transitions",
      (s, dir) =>
        // behavioral transition matrix: count (event_type -> next
        // event_type) within each user's time-ordered stream — one lag
        // window partitioned by user (shuffle on user_id only; the
        // global matrix is a tiny type x type groupBy after it). Ties
        // on ts are ordered by event_id so the lag is deterministic.
        tbl(s, dir, "events")
          .withColumn("next_type", lead(col("event_type"), 1).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("user_id"))
              .orderBy(col("ts"), col("event_id"))))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type"), col("next_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy("event_type", "next_type"),
      Some("""
        WITH o AS (SELECT event_type,
            lead(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS next_type
          FROM events)
        SELECT event_type, next_type, count(*) AS n
        FROM o WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
        ORDER BY event_type, next_type""")),

    QDef(
      "scan_jsonl_corrupt_audit",
      (s, dir) => {
        // real corpora always carry broken lines; the scan must audit,
        // never abort. PERMISSIVE mode + columnNameOfCorruptRecord
        // routes each unparseable line into an audit column (good rows
        // keep it null), so one pass yields data AND data-quality
        // counts. Fixture: 50 lines, every 7th corrupted three ways
        // (truncated JSON, plain text, wrong-type field) — expected
        // counts are fixture arithmetic, independent of the scan.
        val base = new java.io.File(
          sys.props("java.io.tmpdir"), "graft_jsonl_corrupt")
        base.mkdirs()
        val lines = (0 until 50).map { i =>
          if (i % 7 != 0) s"""{"doc_id": $i, "text": "doc number $i"}"""
          else i % 3 match {
            case 0 => s"""{"doc_id": $i, "text": "trunca"""
            case 1 => s"not json at all $i"
            case _ => s"""{"doc_id": "oops$i", "text": 7}"""
          }
        }
        java.nio.file.Files.write(
          base.toPath.resolve("mixed.jsonl"),
          lines.mkString("\n").getBytes("UTF-8"))
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_bad",
            org.apache.spark.sql.types.StringType)))
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .json(base.toString)
          .agg(count(lit(1)).as("n_lines"),
            count(col("_bad")).as("n_corrupt"),
            count(col("doc_id")).as("n_good_ids"),
            coalesce(sum(when(col("_bad").isNull, length(col("text"))
              .cast("long"))), lit(0L)).as("sum_good_text_len"))
      },
      Some {
        // fixture arithmetic: corrupt at i % 7 == 0 (8 lines); the
        // wrong-type corrupt lines still fail the whole-row parse under
        // an explicit schema, so good = the 42 others, each with text
        // "doc number <i>" (11 + digits chars)
        val good = (0 until 50).filter(_ % 7 != 0)
        val sumLen = good.map(i => s"doc number $i".length).sum
        s"""SELECT CAST(50 AS BIGINT) AS n_lines,
               CAST(8 AS BIGINT) AS n_corrupt,
               CAST(42 AS BIGINT) AS n_good_ids,
               CAST($sumLen AS BIGINT) AS sum_good_text_len"""
      }),

    QDef(
      "scan_csv_corrupt_audit",
      (s, dir) => {
        // the CSV twin of scan_jsonl_corrupt_audit: PERMISSIVE scan of a
        // mixed-corruption CSV with an explicit schema — wrong column
        // counts AND type-cast failures land in the corrupt column.
        // SUBTLETY the audit must respect: Spark parses CSV lazily per
        // referenced column, so whether a type-broken row counts as
        // corrupt depends on the projection — an audit that doesn't
        // reference every typed column undercounts (measured: 4 vs 8
        // here). This aggregate touches id, name AND amount, pinning
        // full-row semantics. A good row whose quoted name embeds the
        // delimiter must parse cleanly (the case naive line-splitting
        // corrupts).
        val base = new java.io.File(
          sys.props("java.io.tmpdir"), "graft_csv_corrupt")
        base.mkdirs()
        val lines = (0 until 40).map { i =>
          if (i % 5 != 0) s"""$i,"name, $i",${i * 10}"""
          else if (i % 2 == 0) s"$i,too,many,columns,here"
          else s"notanum$i,plain,7"
        }
        java.nio.file.Files.write(
          base.toPath.resolve("mixed.csv"),
          ("id,name,amount" +: lines).mkString("\n").getBytes("UTF-8"))
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("name",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("amount",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("_bad",
            org.apache.spark.sql.types.StringType)))
        s.read.schema(schema)
          .option("header", "true")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .csv(base.toString)
          // PERMISSIVE keeps whatever fields DID parse on a corrupt row
          // (an over-wide row still yields its leading id) — every data
          // statistic must gate on `_bad IS NULL`, or corrupt fragments
          // leak into the "good" numbers
          .agg(count(lit(1)).as("n_rows"),
            count(col("_bad")).as("n_corrupt"),
            count(when(col("_bad").isNull, col("id"))).as("n_good_ids"),
            coalesce(sum(when(col("_bad").isNull, col("amount"))), lit(0L))
              .as("sum_good_amount"),
            count(when(col("_bad").isNull && col("name").contains(","), 1))
              .as("n_quoted_commas"))
      },
      Some {
        // fixture arithmetic: i % 5 == 0 corrupted (8 rows: 4 over-wide,
        // 4 type-broken ids — both classes null the whole row under
        // full-row parse semantics); good rows are the other 32,
        // amount = 10i, every good name embeds ", "
        val good = (0 until 40).filter(_ % 5 != 0)
        s"""SELECT CAST(40 AS BIGINT) AS n_rows,
               CAST(8 AS BIGINT) AS n_corrupt,
               CAST(32 AS BIGINT) AS n_good_ids,
               CAST(${good.map(_ * 10).sum} AS BIGINT) AS sum_good_amount,
               CAST(32 AS BIGINT) AS n_quoted_commas"""
      }),

    QDef(
      "sink_orc_roundtrip",
      (s, dir) => {
        // second columnar lake format: ORC write + explicit-schema
        // re-scan (Spark ships the ORC reader natively — columnar,
        // predicate pushdown, column pruning, same as parquet). The
        // re-scan runs a pushed-down filter + 2-column projection and
        // must reproduce the source aggregation exactly; OrcScanSpec
        // pins that the filter reaches the ORC scan. Path is suffixed
        // per sf-dir (concurrent sessions on different scales must not
        // overwrite each other's roundtrip files).
        val out = sys.props("java.io.tmpdir") + "/graft_sink_orc_roundtrip_" +
          f"${scala.util.hashing.MurmurHash3.stringHash(
            new java.io.File(dir).getAbsolutePath)}%08x"
        val li = tbl(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        li.write.mode("overwrite").orc(out)
        s.read.schema(li.schema).orc(out)
          .filter(col("l_returnflag") === "R")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"))
          .orderBy("l_returnflag")
      },
      Some("""
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
                 AS qty_c
        FROM lineitem WHERE l_returnflag = 'R'
        GROUP BY 1 ORDER BY 1""")),

    QDef(
      "sink_parquet_compacted",
      (s, dir) => {
        // the small-file problem and its OPTIMIZE: a fragmented write
        // (64 shards — what per-task streaming sinks accumulate) is
        // rewritten into 4 right-sized files; the audit row reports
        // file counts from the filesystem and proves zero row loss by
        // re-scanning both generations. At scale this is the same
        // rewrite with maxRecordsPerFile / target-size binpacking —
        // the fix for "a year of 5-minute micro-batches = 100k files".
        val src = tbl(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        val base = java.nio.file.Files.createTempDirectory("graft_compact")
        val fragDir = s"$base/fragmented"
        val compDir = s"$base/compacted"
        src.repartition(64).write.mode("overwrite").parquet(fragDir)
        s.read.parquet(fragDir).repartition(4)
          .write.mode("overwrite").parquet(compDir)
        def nFiles(d: String) = new java.io.File(d).listFiles()
          .count(f => f.getName.endsWith(".parquet"))
        import s.implicits._
        val nFrag = nFiles(fragDir)
        val nComp = nFiles(compDir)
        val rows = s.read.parquet(compDir).count()
        val srcRows = src.count()
        Seq((nFrag.toLong, nComp.toLong, rows, rows == srcRows))
          .toDF("n_files_fragmented", "n_files_compacted", "n_rows", "lossless")
      },
      Some("""
        SELECT CAST(64 AS BIGINT) AS n_files_fragmented,
               CAST(4 AS BIGINT) AS n_files_compacted,
               (SELECT count(*) FROM lineitem) AS n_rows,
               TRUE AS lossless""")),

    QDef(
      "join_bloom_prefilter",
      (s, dir) => {
        // runtime-filter pattern as a first-class step: the selective
        // build side (high-quantity lineitems) collapses to a one-row
        // bloom sketch, the probe side is pre-filtered by might_contain
        // BEFORE its shuffle, the real equi-join removes the false
        // positives — exact results, probe shuffle cut to
        // ~(selectivity + fpp). BloomJoinSpec measures the pruning and
        // proves no-false-negative on this exact shape.
        val li = tbl(s, dir, "lineitem")
          .filter(col("l_quantity") >= 49)
          .select(col("l_orderkey"), cents(col("l_extendedprice")).as("price_c"))
        val o = tbl(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
        val pruned = graft.operators.BloomJoin.prune(
          o, "o_orderkey", li, "l_orderkey",
          expectedItems = 1L << 16, numBits = 1L << 20)
        pruned.join(li, pruned("o_orderkey") === li("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_li"), sum(col("price_c")).as("rev_cents"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n_li,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS rev_cents
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_quantity >= 49
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    QDef(
      "agg_corr_exact",
      (s, dir) => {
        // per-group Pearson correlation from EXACT integer moments:
        // built-in corr() accumulates doubles, so its value depends on
        // partition order — useless for cross-engine comparison and
        // subtly nondeterministic under AQE. Instead one map-side-
        // combined pass collects n, Σx, Σy, Σx², Σy², Σxy as decimal(38)
        // integers (order-independent), and the final corr is a single
        // identical IEEE expression over those exact inputs in every
        // engine. Same shape as agg_profile_value's variance.
        val li = tbl(s, dir, "lineitem")
          .select(col("l_returnflag"),
            cents(col("l_quantity")).as("x"),
            cents(col("l_extendedprice")).as("y"))
        val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
        li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
            sum(dec(col("x"))).as("sx"),
            sum(dec(col("y"))).as("sy"),
            sum(dec(col("x") * col("x"))).as("sxx"),
            sum(dec(col("y") * col("y"))).as("syy"),
            sum(dec(col("x") * col("y"))).as("sxy"))
          .select(col("l_returnflag"),
            col("n").cast("long").as("n"),
            ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                   (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
              .as("corr_qty_price"))
          .orderBy("l_returnflag")
      },
      Some("""
        WITH t AS (SELECT l_returnflag,
                     CAST(round(l_quantity * 100) AS BIGINT) AS x,
                     CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                   FROM lineitem),
        m AS (SELECT l_returnflag,
                CAST(count(*) AS HUGEINT) AS n,
                sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
                sum(CAST(x AS HUGEINT) * x) AS sxx,
                sum(CAST(y AS HUGEINT) * y) AS syy,
                sum(CAST(x AS HUGEINT) * y) AS sxy
              FROM t GROUP BY 1)
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               CAST(n * sxy - sx * sy AS DOUBLE) /
                 sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
                      CAST(n * syy - sy * sy AS DOUBLE)) AS corr_qty_price
        FROM m ORDER BY l_returnflag""")),

    QDef(
      "agg_mad",
      (s, dir) => {
        // median absolute deviation — the robust spread statistic every
        // data-quality profile wants next to stddev. Two passes of the
        // same per-group exact-quantile operator, in its BUCKETED form
        // (round 11): event_type has ~5 values, so the plain
        // partitioned-window form sorts each type's FULL value grain in
        // one task (parallelism = |groups|, the few-huge-groups trap the
        // operator's own scaladoc warns about) — bucketing keys the only
        // full-grain shuffle on (type, cents div 500) with map-side
        // combine and ranks one bucket per group (sf1: 5.5 → ~2 s).
        // cents > 0 by the generator's value domain (the div-bucketing
        // monotonicity precondition); `dev` is an abs, nonnegative by
        // construction.
        val ev = tbl(s, dir, "events")
          .select(col("event_type"), cents(col("value")).as("cents"),
            col("event_id"))
        val med = graft.operators.Quantiles.exactQuantileByGroupBucketed(
            ev, "event_type", "cents", "event_id", q = 0.5,
            bucketWidth = 500L)
          .select(col("event_type"), col("cents").as("med_cents"))
        val dev = ev.join(broadcast(med), "event_type")
          .select(col("event_type"),
            abs(col("cents") - col("med_cents")).as("dev"), col("event_id"))
        val mad = graft.operators.Quantiles.exactQuantileByGroupBucketed(
            dev, "event_type", "dev", "event_id", q = 0.5,
            bucketWidth = 500L)
          .select(col("event_type"), col("dev").as("mad_cents"))
        med.join(mad, "event_type")
          .select("event_type", "med_cents", "mad_cents")
          .orderBy("event_type")
      },
      Some("""
        WITH t AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
                          event_id FROM events),
        m AS (SELECT event_type, cents AS med_cents FROM (
                SELECT event_type, cents,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY cents, event_id) - 1 AS r0,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM t) WHERE r0 = CAST(floor(0.5 * (n - 1)) AS BIGINT)),
        d AS (SELECT t.event_type, abs(t.cents - m.med_cents) AS dev, t.event_id
              FROM t JOIN m USING (event_type)),
        md AS (SELECT event_type, dev AS mad_cents FROM (
                SELECT event_type, dev,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY dev, event_id) - 1 AS r0,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM d) WHERE r0 = CAST(floor(0.5 * (n - 1)) AS BIGINT))
        SELECT event_type, med_cents, mad_cents
        FROM m JOIN md USING (event_type) ORDER BY event_type""")),

    QDef(
      "join_interval_overlap",
      (s, dir) => {
        // interval×interval overlap join — concurrent sessions across
        // users. Naively `a.lo <= b.hi AND b.lo <= a.hi` plans as a
        // nested loop over sessions²; RangeJoin.intervalOverlap buckets
        // the time axis (width ≈ max session length, fan-out ≤ 2) into
        // an equi-join, exactly-once via the first-shared-bucket rule.
        // Session derivation reuses the flagship islands operator.
        // r13 (verdict #7, guide §7.2): the self-overlap consumes `sess`
        // TWICE; unpersisted, the islands window (exchange + sort + two
        // windows + two aggregates over the full events grain) planned
        // once per side — the whole gap to the auto-rewrite form, whose
        // union branches share the child exchange via the r12 barrier
        // pin. Persisting the SKINNY session frame (user_id, lo, hi —
        // ~1% of the fact grain) halves the window work and gives AQE
        // real sizes for the overlap join. Per-execution cache, rebuilt
        // every lap. sf10: 21.8-24.8 s → measured below auto's 18.8 s.
        val sess = graft.operators.Islands.islands(
            tbl(s, dir, "events")
              .select(col("user_id"), unix_timestamp(col("ts")).as("sec")),
            Seq("user_id"), "sec", maxGap = 1800L, minLen = 2L)
          .select(col("user_id"), col("island_start").as("lo"),
            col("island_end").as("hi"))
          .persist()
        graft.operators.RangeJoin.intervalOverlap(
            sess, "lo", "hi", sess, "lo", "hi", Nil, bucketWidth = 3600L)
          .filter(col("user_id") < col("r_user_id"))
          .select(col("user_id").as("user_a"), col("lo").as("start_a"),
            col("r_user_id").as("user_b"), col("r_lo").as("start_b"),
            (least(col("hi"), col("r_hi")) -
              greatest(col("lo"), col("r_lo"))).as("overlap_sec"))
          .orderBy("user_a", "start_a", "user_b", "start_b")
      },
      Some("""
        WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        b AS (SELECT user_id, sec,
              CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800
                   THEN 1 ELSE 0 END AS brk FROM e),
        g AS (SELECT user_id, sec,
              CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY sec
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
              FROM b),
        s AS (SELECT user_id, min(sec) AS lo, max(sec) AS hi
              FROM g GROUP BY user_id, sid HAVING count(*) >= 2)
        SELECT a.user_id AS user_a, a.lo AS start_a,
               b.user_id AS user_b, b.lo AS start_b,
               least(a.hi, b.hi) - greatest(a.lo, b.lo) AS overlap_sec
        FROM s a JOIN s b
          ON a.user_id < b.user_id AND a.lo <= b.hi AND b.lo <= a.hi
        ORDER BY user_a, start_a, user_b, start_b""")),

    QDef(
      "join_overlap_auto",
      (s, dir) => {
        // the SAME overlap join written naively — the raw
        // `a.lo <= b.hi AND b.lo <= a.hi` conjunct pair as the join
        // condition, no operator call. RangeJoinRewrite recognizes the
        // crossing bound pair and plans the double-exploded bucketed
        // equi-join with the first-shared-bucket exactly-once filter;
        // RangeJoinRuleSpec pins no-nested-loop and bit-exact parity
        // with both the brute theta join and RangeJoin.intervalOverlap.
        // Bucket width 3600 ≈ max session length (fan-out ≤ 2), scoped
        // to this plan's construction.
        Registry.withRangeBucket(s, 3600L) {
          val sess = graft.operators.Islands.islands(
              tbl(s, dir, "events")
                .select(col("user_id"), unix_timestamp(col("ts")).as("sec")),
              Seq("user_id"), "sec", maxGap = 1800L, minLen = 2L)
            .select(col("user_id"), col("island_start").as("lo"),
              col("island_end").as("hi"))
          val a = sess.select(col("user_id").as("user_a"), col("lo").as("a_lo"),
            col("hi").as("a_hi"))
          val b = sess.select(col("user_id").as("user_b"), col("lo").as("b_lo"),
            col("hi").as("b_hi"))
          a.join(b,
              col("user_a") < col("user_b") &&
                col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
            .select(col("user_a"), col("a_lo").as("start_a"),
              col("user_b"), col("b_lo").as("start_b"),
              (least(col("a_hi"), col("b_hi")) -
                greatest(col("a_lo"), col("b_lo"))).as("overlap_sec"))
            .orderBy("user_a", "start_a", "user_b", "start_b")
        }
      },
      Some("""
        WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        b AS (SELECT user_id, sec,
              CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800
                   THEN 1 ELSE 0 END AS brk FROM e),
        g AS (SELECT user_id, sec,
              CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY sec
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
              FROM b),
        s AS (SELECT user_id, min(sec) AS lo, max(sec) AS hi
              FROM g GROUP BY user_id, sid HAVING count(*) >= 2)
        SELECT a.user_id AS user_a, a.lo AS start_a,
               b.user_id AS user_b, b.lo AS start_b,
               least(a.hi, b.hi) - greatest(a.lo, b.lo) AS overlap_sec
        FROM s a JOIN s b
          ON a.user_id < b.user_id AND a.lo <= b.hi AND b.lo <= a.hi
        ORDER BY user_a, start_a, user_b, start_b""")),

    QDef(
      "join_band_auto",
      (s, dir) => {
        // temporal-proximity band join, written NAIVELY: clicks within
        // ±5 min of a purchase by the same user, phrased as the raw
        // `a.sec <= b.sec + 300 AND b.sec <= a.sec + 300` conjunct pair.
        // RangeJoinRewrite's overlap matcher recognizes this as the
        // degenerate-interval case ([sec, sec+300] on both sides
        // intersect ⇔ |a−b| ≤ 300) and plans the bucketed equi-join
        // with user_id kept as a real key — the attribution-window
        // join every clickstream pipeline runs, rescued from the
        // nested loop automatically. Aggregated to per-user pair
        // counts and the tightest gap.
        Registry.withRangeBucket(s, 900L) {
          val e = tbl(s, dir, "events")
            .select(col("user_id"), col("event_type"),
              unix_timestamp(col("ts")).as("sec"), col("event_id"))
          val a = e.filter(col("event_type") === "click")
            .select(col("user_id").as("u_a"), col("sec").as("sec_a"))
          val b = e.filter(col("event_type") === "purchase")
            .select(col("user_id").as("u_b"), col("sec").as("sec_b"))
          a.join(b,
              col("u_a") === col("u_b") &&
                col("sec_a") <= col("sec_b") + 300L &&
                col("sec_b") <= col("sec_a") + 300L)
            .groupBy(col("u_a").as("user_id"))
            .agg(count(lit(1)).as("n_pairs"),
              min(abs(col("sec_a") - col("sec_b"))).as("min_gap_sec"))
            .orderBy("user_id")
        }
      },
      Some("""
        WITH e AS (SELECT user_id, event_type,
                     CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
        SELECT a.user_id, count(*) AS n_pairs,
               min(abs(a.sec - b.sec)) AS min_gap_sec
        FROM (SELECT user_id, sec FROM e WHERE event_type = 'click') a
        JOIN (SELECT user_id, sec FROM e WHERE event_type = 'purchase') b
          ON a.user_id = b.user_id
          AND a.sec <= b.sec + 300 AND b.sec <= a.sec + 300
        GROUP BY a.user_id ORDER BY a.user_id""")),

    QDef(
      "agg_copurchase_pairs",
      (s, dir) => {
        // market-basket co-occurrence: the top-20 part pairs bought in
        // the same order, support >= 2 — the recommendation-prep /
        // association-mining shape. The pair join is a WEDGE join on
        // the order key: per-order fan-out is C(k,2), bounded by the
        // basket size (TPC-H orders carry ~4 lines), never all part
        // pairs. Round-11 plan surgery, both from a measured A/B of
        // the plan shapes (a one-off probe, since deleted; sf1, 12M
        // pair rows):
        //  - ONE width-pinned repartition on the order key up front;
        //    the (orderkey, partkey) dedup's clustering requirement is
        //    satisfied by hash(orderkey) (partitioning-subset rule), so
        //    dedup AND self-join run exchange-free on that layout;
        //  - the pair-count shuffle is pinned to the session width
        //    (REPARTITION_BY_NUM): with parallelismFirst=false AQE
        //    coalesced this ~200MB CPU-heavy exchange to ~4 of 32
        //    cores — the starved count stage, not the pair volume, was
        //    the whole cost (15.5 s → ~3 s warm at sf1).
        // Support counting stays one groupBy (nearly all pairs are
        // unique, so map-side combine is moot); top-20 is a
        // TakeOrdered, not a window. Ties deterministic (support desc,
        // then pair).
        val width = s.sparkContext.defaultParallelism
        val items = tbl(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
          .repartition(width, col("l_orderkey"))
          .dropDuplicates("l_orderkey", "l_partkey")
        items.select(col("l_orderkey"), col("l_partkey").as("p1"))
          .join(items.select(col("l_orderkey"), col("l_partkey").as("p2")),
            "l_orderkey")
          .filter(col("p1") < col("p2"))
          .repartition(width, col("p1"), col("p2"))
          .groupBy(col("p1"), col("p2"))
          .agg(count(lit(1)).as("n_orders"))
          .filter(col("n_orders") >= 2)
          .orderBy(col("n_orders").desc, col("p1"), col("p2"))
          .limit(20)
      },
      Some("""
        WITH it AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        p AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                count(*) AS n_orders
              FROM it a JOIN it b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2)
        SELECT p1, p2, n_orders FROM p WHERE n_orders >= 2
        ORDER BY n_orders DESC, p1, p2 LIMIT 20""")),

    QDef(
      "dq_value_ranges",
      (s, dir) => {
        // declared-bounds contract check — the "is the data sane"
        // gate before a corpus lands: per rule, the observed min/max
        // and the violation count against embedded bounds. One
        // map-side-combined aggregate per table; zeros in n_violations
        // are the visible proof the rule RAN (the dq convention).
        val li = tbl(s, dir, "lineitem")
        val ev = tbl(s, dir, "events")
        def rule(name: String, c: org.apache.spark.sql.Column,
            lo: Double, hi: Double,
            src: org.apache.spark.sql.DataFrame) =
          src.agg(
            min(c.cast("double")).as("observed_min"),
            max(c.cast("double")).as("observed_max"),
            sum(when(c.cast("double") < lo || c.cast("double") > hi, 1L)
              .otherwise(0L)).as("n_violations"))
            .select(lit(name).as("rule"), lit(lo).as("lo"), lit(hi).as("hi"),
              col("observed_min"), col("observed_max"), col("n_violations"))
        rule("lineitem.quantity in [1,50]", col("l_quantity"), 1, 50, li)
          .unionByName(rule("lineitem.discount in [0,0.1]",
            col("l_discount"), 0, 0.1, li))
          .unionByName(rule("lineitem.extendedprice > 0",
            col("l_extendedprice"), 0.01, 1e9, li))
          .unionByName(rule("events.value >= 0", col("value"), 0, 1e9, ev))
          .orderBy("rule")
      },
      Some("""
        SELECT 'events.value >= 0' AS rule, 0.0 AS lo, 1000000000.0 AS hi,
               min(CAST(value AS DOUBLE)) AS observed_min,
               max(CAST(value AS DOUBLE)) AS observed_max,
               CAST(sum(CASE WHEN value < 0 OR value > 1e9 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_violations
        FROM events
        UNION ALL
        SELECT 'lineitem.discount in [0,0.1]', 0.0, 0.1,
               min(CAST(l_discount AS DOUBLE)), max(CAST(l_discount AS DOUBLE)),
               CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                 THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem.extendedprice > 0', 0.01, 1000000000.0,
               min(CAST(l_extendedprice AS DOUBLE)),
               max(CAST(l_extendedprice AS DOUBLE)),
               CAST(sum(CASE WHEN l_extendedprice < 0.01
                 OR l_extendedprice > 1e9 THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem.quantity in [1,50]', 1.0, 50.0,
               min(CAST(l_quantity AS DOUBLE)), max(CAST(l_quantity AS DOUBLE)),
               CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                 THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        ORDER BY rule""")),

    QDef(
      "dq_feature_drift_psi",
      (s, dir) => {
        // feature-drift monitoring via the Population Stability Index —
        // the train/serve distribution-shift gate every feature store
        // runs before a model refresh. `value` is binned into 20 fixed
        // cents-width buckets; the even/odd event_id halves play the
        // reference and current populations. Everything is EXACT
        // integer arithmetic: proportions in millionths (integer div),
        // +1 Laplace floor keeps the log domain positive, and the log
        // is PortableLog.log2q10 — so each bin's PSI term
        // (p−q)·(log2q10(p)−log2q10(q)) is an exact BIGINT in units of
        // millionth·(bit/1024), order-independent and hash-stable.
        // Per-bin terms are emitted (not just the total) so a drifted
        // bucket is visible, the dq convention. One fact-grain pass +
        // one 20-key aggregate; totals attach as scalar subqueries —
        // no join, no second scan.
        import graft.functions.PortableLog.log2q10
        // bin is clamped on BOTH ends: Spark's `div` truncates toward
        // zero while DuckDB's `//` floors, so a negative cents value
        // would bin differently across engines one step above the floor
        // — but every negative bin lands <= 0 in both, so the lower
        // clamp restores engine agreement for any sign of `value`
        val e = tbl(s, dir, "events").select(col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        val binned = e
          .withColumn("bin", greatest(least(expr("cents div 2500"), lit(19L)), lit(0L)))
          .withColumn("is_ref", (col("event_id") % 2 === 0).cast("long"))
        val nRef = org.apache.spark.sql.graft.ColumnBridge.scalar(
          binned.agg(sum(col("is_ref")).as("n")))
        val nCur = org.apache.spark.sql.graft.ColumnBridge.scalar(
          binned.agg(sum(lit(1L) - col("is_ref")).as("n")))
        binned.groupBy(col("bin"))
          .agg(sum(col("is_ref")).as("n_ref"),
            sum(lit(1L) - col("is_ref")).as("n_cur"))
          .withColumn("n_ref_tot", nRef)
          .withColumn("n_cur_tot", nCur)
          // greatest(tot, 1): an empty reference/current half would be
          // NULL `div` in Spark but a division-by-zero ERROR in DuckDB;
          // with the floor both engines emit p=q=1 per bin (PSI term 0)
          .withColumn("p_mil", expr("(1000000 * n_ref) div greatest(n_ref_tot, 1) + 1"))
          .withColumn("q_mil", expr("(1000000 * n_cur) div greatest(n_cur_tot, 1) + 1"))
          .withColumn("psi_term_q",
            (col("p_mil") - col("q_mil")) *
              (log2q10(col("p_mil")) - log2q10(col("q_mil"))))
          .select(col("bin"), col("n_ref"), col("n_cur"),
            col("p_mil"), col("q_mil"), col("psi_term_q"))
          .orderBy("bin")
      },
      Some(s"""
        WITH ${graft.functions.PortableLog.l2tCte},
        e AS (SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
              FROM events),
        b AS (SELECT greatest(least(cents // 2500, 19), 0) AS bin,
                CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS is_ref
              FROM e),
        t AS (SELECT CAST(sum(is_ref) AS BIGINT) AS n_ref_tot,
                CAST(sum(1 - is_ref) AS BIGINT) AS n_cur_tot FROM b),
        g AS (SELECT bin, CAST(sum(is_ref) AS BIGINT) AS n_ref,
                CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
              FROM b GROUP BY bin),
        m AS (SELECT bin, n_ref, n_cur,
                (1000000 * n_ref) // greatest(n_ref_tot, 1) + 1 AS p_mil,
                (1000000 * n_cur) // greatest(n_cur_tot, 1) + 1 AS q_mil
              FROM g, t)
        SELECT bin, n_ref, n_cur, p_mil, q_mil,
               CAST((p_mil - q_mil) *
                 (${graft.functions.PortableLog.log2q10Sql("p_mil")}
                  - ${graft.functions.PortableLog.log2q10Sql("q_mil")})
                 AS BIGINT) AS psi_term_q
        FROM m, l2t ORDER BY bin""")),

    QDef(
      "pipeline_scd2_history",
      (s, dir) => {
        // slowly-changing-dimension type-2 history from a change
        // stream: each customer's order-priority over time, with
        // consecutive equal values collapsed into one versioned
        // validity interval. The lakehouse MERGE-history shape, built
        // from plain windows.
        // r12 (guide §2.4): run collapse via lag+cumsum on ONE
        // hash(c) window instead of the rn-difference trick's TWO
        // (hash(c) and hash(c,p) sorts). A run starts where p changes
        // (null-safe lag compare); the running break count numbers the
        // run. Everything downstream keys on a superset of {c}, so the
        // single exchange carries the whole query: the (c,grp) groupBy
        // and the version window both reuse hash(c) clustering
        // (partitioning-subset rule) — plan went 4 Exchanges -> 2
        // (the remaining two: hash(c) + the presentation sort).
        val w = Window.partitionBy(col("c")).orderBy(col("d"), col("k"))
        val runs = tbl(s, dir, "orders")
          .select(col("o_custkey").as("c"), col("o_orderdate").as("d"),
            col("o_orderkey").as("k"), col("o_orderpriority").as("p"))
          .withColumn("brk",
            when(not(col("p") <=> lag(col("p"), 1).over(w)), 1L).otherwise(0L))
          .withColumn("grp", sum(col("brk")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("c"), col("p"), col("grp"))
          .agg(min(col("d")).as("valid_from"), min(col("k")).as("first_k"))
        val wv = Window.partitionBy(col("c")).orderBy(col("valid_from"), col("first_k"))
        runs
          .withColumn("version", row_number().over(wv).cast("long"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(wv))
          .select(col("c").as("custkey"), col("version"), col("p").as("priority"),
            col("valid_from"), col("valid_to"))
          .orderBy("custkey", "version")
      },
      Some("""
        WITH o AS (SELECT o_custkey AS c, o_orderdate AS d, o_orderkey AS k,
                          o_orderpriority AS p FROM orders),
        r AS (SELECT c, d, k, p,
                row_number() OVER (PARTITION BY c ORDER BY d, k)
                - row_number() OVER (PARTITION BY c, p ORDER BY d, k) AS grp
              FROM o),
        runs AS (SELECT c, p, grp, min(d) AS valid_from, min(k) AS first_k
                 FROM r GROUP BY c, p, grp),
        v AS (SELECT c, p, valid_from, first_k,
                CAST(row_number() OVER wv AS BIGINT) AS version,
                lead(valid_from) OVER wv AS valid_to
              FROM runs
              WINDOW wv AS (PARTITION BY c ORDER BY valid_from, first_k))
        SELECT c AS custkey, version, p AS priority, valid_from, valid_to
        FROM v ORDER BY custkey, version""")),

    QDef(
      "win_anomaly_mad",
      (s, dir) => {
        // robust anomaly flags: events whose |value - group median|
        // exceeds 3×MAD of their event_type — the outlier gate that,
        // unlike z-scores, a few extreme values cannot desensitize
        // (median and MAD have 50% breakdown; mean/stddev have 0%).
        // The 5-row robust-stats frame broadcasts onto the fact scan,
        // so flagging costs one map-side comparison per row. All
        // integer, engine-exact. Median/MAD use the BUCKETED per-group
        // quantile (round 11, same move as agg_mad): event_type is ~5
        // groups, so the partitioned-window form sorted each type's
        // full grain in one task; bucketed, the full-grain shuffle is
        // a map-side-combined (type, cents div 500) count.
        val ev = tbl(s, dir, "events")
          .select(col("event_type"), cents(col("value")).as("cents"),
            col("event_id"))
        val med = graft.operators.Quantiles.exactQuantileByGroupBucketed(
            ev, "event_type", "cents", "event_id", q = 0.5,
            bucketWidth = 500L)
          .select(col("event_type"), col("cents").as("med_cents"))
        val dev = ev.join(broadcast(med), "event_type")
          .select(col("event_type"),
            abs(col("cents") - col("med_cents")).as("dev"), col("event_id"))
        val mad = graft.operators.Quantiles.exactQuantileByGroupBucketed(
            dev, "event_type", "dev", "event_id", q = 0.5,
            bucketWidth = 500L)
          .select(col("event_type"), col("dev").as("mad_cents"))
        ev.join(broadcast(med), "event_type")
          .join(broadcast(mad), "event_type")
          .filter(abs(col("cents") - col("med_cents")) > lit(3L) * col("mad_cents"))
          .select(col("event_id"), col("event_type"), col("cents"),
            abs(col("cents") - col("med_cents")).as("dev_cents"))
          .orderBy("event_id")
      },
      Some("""
        WITH t AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
                          event_id FROM events),
        m AS (SELECT event_type, cents AS med_cents FROM (
                SELECT event_type, cents,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY cents, event_id) - 1 AS r0,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM t) WHERE r0 = CAST(floor(0.5 * (n - 1)) AS BIGINT)),
        d AS (SELECT t.event_type, abs(t.cents - m.med_cents) AS dev, t.event_id
              FROM t JOIN m USING (event_type)),
        md AS (SELECT event_type, dev AS mad_cents FROM (
                SELECT event_type, dev,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY dev, event_id) - 1 AS r0,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM d) WHERE r0 = CAST(floor(0.5 * (n - 1)) AS BIGINT))
        SELECT t.event_id, t.event_type, t.cents,
               abs(t.cents - m.med_cents) AS dev_cents
        FROM t JOIN m USING (event_type) JOIN md USING (event_type)
        WHERE abs(t.cents - m.med_cents) > 3 * md.mad_cents
        ORDER BY t.event_id""")),

    QDef(
      "pipeline_data_card",
      (s, dir) =>
        // the corpus data card in ONE aggregation pass: volume, source/
        // language coverage, exact-duplicate mass, token mass, and mean
        // doc length — every figure either an exact integer or a
        // floor-scaled exact ratio, so the card is reproducible
        // anywhere. No joins, no window: one map-side-combined global
        // aggregate (countDistincts expand internally; still one
        // shuffle of partial aggregates, never of documents).
        tbl(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("text"),
            graft.text.TextFunctions.tokenCount(col("text")).cast("long")
              .as("n_tok"),
            length(col("text")).cast("long").as("n_chr"))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("lang")).as("n_langs"),
            countDistinct(col("source")).as("n_sources"),
            countDistinct(col("text")).as("n_distinct_texts"),
            sum(col("n_tok")).as("n_tokens"),
            sum(col("n_chr")).as("n_chars"))
          .withColumn("n_exact_dup_docs", col("n_docs") - col("n_distinct_texts"))
          .withColumn("mean_tokens_x1000",
            floor(col("n_tokens") * lit(1000L) / col("n_docs")).cast("long")),
      Some("""
        SELECT count(*) AS n_docs,
               count(DISTINCT lang) AS n_langs,
               count(DISTINCT source) AS n_sources,
               count(DISTINCT text) AS n_distinct_texts,
               CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tokens,
               CAST(sum(len(text)) AS BIGINT) AS n_chars,
               count(*) - count(DISTINCT text) AS n_exact_dup_docs,
               CAST(floor(sum(len(string_split_regex(text, '\s+'))) * 1000
                 / count(*)) AS BIGINT) AS mean_tokens_x1000
        FROM documents""")),

    QDef(
      "join_entity_resolution",
      (s, dir) => {
        // blocked fuzzy-match entity resolution: find same-nation
        // customer pairs whose names are within edit distance 1. The
        // scale shape is FastSS deletion-neighborhood blocking — each
        // name emits itself plus its n one-character-deletion variants;
        // two strings within edit distance 1 ALWAYS share a variant
        // (substitution at i: both drop i; insert/delete: one's variant
        // IS the other), so the (nation, variant) equi-join is a
        // certified candidate superset and the quadratic within-block
        // scan never happens. Candidates then verify with the exact
        // levenshtein gate. A pair sharing V variants would surface V
        // times; instead of a pair-level distinct (a wide-row shuffle
        // that measured 25 s at sf0.1 — 19 variants per 18-char name),
        // the MINIMAL-SHARED-KEY gate keeps exactly the one candidate
        // row whose key is min(intersect(a_variants, b_variants)) — a
        // codegen'd filter, no extra shuffle (the same gate
        // plans/EditDistJoinRewrite emits; 25.5 s → join_edit_dist_auto
        // territory). The oracle runs the naive quadratic within-nation
        // join — the green hash is the recall proof.
        // variants ride the shuffle as xxhash64 longs, not strings
        // (round 10): an 18-char name's 19 variants are ~340 string
        // bytes per row on the join key AND both gate arrays; hashed,
        // 152 bytes. A collision only adds a candidate (killed by the
        // exact levenshtein gate) and the min-shared-key argument is
        // unchanged over the hashed key space — bit-exact, same oracle.
        // r13 (verdict #4): the variant frame comes from the shared
        // FastSS index artifact — construction cost (the non-codegen
        // HOF chain) lands in the declared setup phase, the query pays
        // the explode + join + gates. Same frame, bit-identical rows.
        // r13 layout + prune (guide §2.3/§2.4; a since-deleted stage
        // probe, sf1 round-robin: 4.5-5.1 s vs 7.9-8.9 s two-exchange
        // base): ONE explicit exchange of the exploded stream on the
        // join key (nk, blk) — REPARTITION_BY_COL, width conf-driven and
        // AQE-coalescible, NOT a local-core pin. The plan has two such
        // (nk, blk) exchanges (PlanShapeSpec pins them): the pruned
        // stream's, shared by both pair-join inputs, and the narrow
        // (k, nk, blk) rows' under the multi-member-bucket count. The
        // prune (keep buckets with >= 2 distinct keys) is bit-exact:
        // `a.k < b.k` inside one bucket needs two distinct keys by
        // definition. r12 measured and REJECTED this prune because its
        // duplicated subtrees re-ran the non-codegen variant
        // construction at four more plan sites (237 s cold,
        // one variant per JVM in a since-deleted cold-run probe) — with
        // construction behind the artifact's cache scan every extra site is a memory read and the
        // objection dissolves. Unique-name corpora (the driver's sf0.1
        // grain) prune ~all singleton buckets before the SMJ sorts;
        // MakeSf's replicated-name sf1/sf10 keep everything and the
        // win is the single-exchange layout.
        val keyed = sharedFastssVariants(s, dir)
          .withColumn("blk", explode(col("blks")))
          .repartition(col("nk"), col("blk"))
        val multi = keyed.groupBy(col("nk"), col("blk"))
          .agg(min(col("k")).as("__k0"), max(col("k")).as("__k1"))
          .where(col("__k0") =!= col("__k1"))
          .select(col("nk"), col("blk"))
        val slim = keyed.join(multi, Seq("nk", "blk"), "left_semi")
        // r12 (guide §3.1): the pair join stays MERGE-hinted. Spark's
        // size estimate of the exploded side stays at the scan's bytes,
        // so it auto-BROADCAST a build side ~19x the customer table
        // that GROWS WITH THE CORPUS — sf1 laps swung 8-89 s and past
        // ~sf10 it crosses the 8 GB / 512M-row broadcast cap outright.
        // Sort-merge spills gracefully (r11 SHUFFLE_HASH negative).
        // verification uses the BANDED levenshtein (threshold=1, -1
        // above the band): O(k·n) instead of O(n²) per pair, and — the
        // part that bit in round 6 — the un-thresholded form in a join
        // filter re-matches plans/EditDistJoinRewrite, which would
        // stack a SECOND deletion-variant explode on the already-
        // blocked join (measured 31 s; this shape is 2 s)
        slim.as("a").join(slim.as("b").hint("MERGE"),
            col("a.nk") === col("b.nk") && col("a.blk") === col("b.blk") &&
              col("a.k") < col("b.k"))
          .filter(col("a.blk") ===
            array_min(array_intersect(col("a.blks"), col("b.blks"))))
          .withColumn("edit_dist",
            levenshtein(col("a.nm"), col("b.nm"), 1).cast("long"))
          .filter(col("edit_dist") >= 0)
          .select(col("a.k").as("a_custkey"), col("b.k").as("b_custkey"),
            col("edit_dist"))
          .orderBy(col("a_custkey"), col("b_custkey"))
      },
      Some("""
        WITH c AS (SELECT c_custkey AS k, c_nationkey AS nk, c_name AS nm
                   FROM customer)
        SELECT a.k AS a_custkey, b.k AS b_custkey,
               levenshtein(a.nm, b.nm) AS edit_dist
        FROM c a JOIN c b
          ON a.nk = b.nk AND a.k < b.k AND levenshtein(a.nm, b.nm) <= 1
        ORDER BY a_custkey, b_custkey""")),

    QDef(
      "join_edit_dist_auto",
      (s, dir) => {
        // the SAME fuzzy match written the way a user would write it — a
        // plain theta join on `levenshtein(a, b) <= 1` — relying on
        // plans/EditDistJoinRewrite (injected via GraftExtensions) to
        // recognize the bound and plan the FastSS deletion-neighborhood
        // equi-join automatically instead of a nested loop.
        // EditDistRewriteSpec pins the plan shape; the oracle is the
        // naive quadratic, so the green hash proves the rewrite exact
        // (including its minimal-shared-key dedup gate).
        val c = tbl(s, dir, "customer")
          .select(col("c_custkey").as("k"), col("c_nationkey").as("nk"),
            col("c_name").as("nm"))
        c.as("a").join(c.as("b"),
            col("a.nk") === col("b.nk") && col("a.k") < col("b.k") &&
              levenshtein(col("a.nm"), col("b.nm")) <= 1)
          .select(col("a.k").as("a_custkey"), col("b.k").as("b_custkey"))
          .orderBy(col("a_custkey"), col("b_custkey"))
      },
      Some("""
        WITH c AS (SELECT c_custkey AS k, c_nationkey AS nk, c_name AS nm
                   FROM customer)
        SELECT a.k AS a_custkey, b.k AS b_custkey
        FROM c a JOIN c b
          ON a.nk = b.nk AND a.k < b.k AND levenshtein(a.nm, b.nm) <= 1
        ORDER BY a_custkey, b_custkey"""))
  )
}
