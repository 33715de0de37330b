package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics over the `events` table: the ordered
  * funnel (signup → view-after-signup → purchase-after-that) — the
  * classic "did the user progress through the stages in order"
  * measure. Everything aggregates per user first (one shuffle on
  * user_id, reused by every stage), never materializing event pairs.
  */
object EventAnalytics {

  /** ONE oracle for q_funnel AND q_stream_funnel: the batch
    * formulation both the three-pass aggregation and the stateful
    * stream must reproduce — batch/stream agreement is structural,
    * the sessionization-pair pattern. */
  private[operators] def funnelSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |u1 AS (SELECT user_id,
      |              min(CASE WHEN event_type = 'signup' THEN ts_us END) AS s1
      |       FROM e GROUP BY user_id),
      |u2 AS (SELECT e.user_id, u1.s1,
      |              min(CASE WHEN event_type = 'view' AND ts_us >= s1
      |                       THEN ts_us END) AS s2
      |       FROM e JOIN u1 ON e.user_id = u1.user_id
      |       GROUP BY e.user_id, u1.s1),
      |u3 AS (SELECT e.user_id, u2.s1, u2.s2,
      |              min(CASE WHEN event_type = 'purchase' AND ts_us >= s2
      |                       THEN ts_us END) AS s3
      |       FROM e JOIN u2 ON e.user_id = u2.user_id
      |       GROUP BY e.user_id, u2.s1, u2.s2)
      |SELECT count(*) AS n_users,
      |       count(s1) AS n_signup,
      |       count(s2) AS n_view_after_signup,
      |       count(s3) AS n_purchase_after_view
      |FROM u3""".stripMargin

  /** Per-user stage timestamps; null = stage never reached in order. */
  def funnelStages(events: DataFrame): DataFrame = {
    val perUser = events
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ts_us"))).as("s1"))
    val afterSignup = events
      .join(perUser, "user_id")
      .groupBy(col("user_id"), col("s1"))
      .agg(min(when(col("event_type") === "view" && col("ts_us") >= col("s1"),
        col("ts_us"))).as("s2"))
    events
      .join(afterSignup, "user_id")
      .groupBy(col("user_id"), col("s1"), col("s2"))
      .agg(min(when(col("event_type") === "purchase" && col("ts_us") >= col("s2"),
        col("ts_us"))).as("s3"))
  }

  /** [[funnelSql]]'s four counts over a per-user (s1, s2, s3) stage
    * table — shared by the batch funnel and both streaming twins. */
  private[operators] def funnelCounts(stages: DataFrame): DataFrame =
    stages.agg(count(lit(1)).as("n_users"),
      count(col("s1")).as("n_signup"),
      count(col("s2")).as("n_view_after_signup"),
      count(col("s3")).as("n_purchase_after_view"))

  /** Count-Min sketch geometry: [[CmDepth]] pairwise-independent-ish
    * hash rows of [[CmWidth]] buckets, hashes h_i(k) = ((k·A_i + B_i)
    * mod [[CmP]]) mod [[CmWidth]] — plain integer arithmetic, so both
    * engines compute identical buckets and the sketch (and every
    * estimate drawn from it) is exact-deterministic, unlike
    * engine-private hash sketches. Declared before `all` (oracle
    * interpolation). */
  val CmDepth = 3
  val CmWidth = 64
  val CmP = 104729L
  val CmA: Seq[Long] = Seq(31L, 37L, 41L)
  val CmB: Seq[Long] = Seq(7L, 11L, 13L)

  /** Hash-row i's bucket for `key` — shared by the batch sketch, the
    * estimate probe, and the STREAMING sketch so the three can never
    * drift onto different hash families. */
  def cmBucket(key: Column, i: Int): Column =
    pmod(key * CmA(i) + CmB(i), lit(CmP)) % CmWidth

  /** AMS tug-of-war geometry (Alon–Matias–Szegedy STOC'96):
    * [[AmsD]] ±1 sign hashes s_i(k) = parity of (v² mod [[CmP]])
    * with v = (k·A_i + B_i) mod [[CmP]] — the same
    * plain-integer-arithmetic discipline as [[cmBucket]], so the
    * estimate itself is exact-deterministic and the oracle replays it
    * VALUE-FOR-VALUE (no accuracy-flag indirection needed). The
    * SQUARE step matters: parity of the bare affine value is a
    * low-discrepancy (Weyl-like) sequence over consecutive ids, whose
    * too-even signs cancel the cross terms better than random and
    * systematically UNDERESTIMATE F2 (measured 0.1-0.2× on this
    * corpus); squaring mod P breaks the structure (measured
    * 0.86-1.26× across all SFs at D=64). Constants are fixed
    * published randoms in [0, P). */
  val AmsD = 64
  val AmsA: Seq[Long] = Seq(95890L, 44586L, 101322L, 78962L, 68528L,
    96404L, 4442L, 47383L, 66431L, 84020L, 75212L, 7697L, 76609L,
    56731L, 91258L, 67774L, 15466L, 13671L, 20233L, 33821L, 5154L,
    26280L, 17562L, 89334L, 2091L, 30051L, 23018L, 83636L, 90750L,
    85382L, 65819L, 28199L, 60306L, 50523L, 79805L, 67486L, 80255L,
    6655L, 91096L, 66594L, 48301L, 35622L, 77348L, 17615L, 8968L,
    46461L, 56338L, 102187L, 11827L, 49077L, 7286L, 6032L, 16286L,
    14980L, 73319L, 12576L, 13664L, 2997L, 2517L, 52306L, 57474L,
    40988L, 37711L, 41996L)
  val AmsB: Seq[Long] = Seq(32791L, 1857L, 9305L, 77730L, 80390L,
    80011L, 61065L, 29167L, 10178L, 8863L, 90790L, 11343L, 3318L,
    52236L, 60787L, 56144L, 103482L, 70178L, 64618L, 11997L, 39446L,
    23477L, 53230L, 41146L, 2823L, 84829L, 36577L, 29599L, 45339L,
    79350L, 90109L, 47131L, 57717L, 90905L, 21987L, 93269L, 65233L,
    29490L, 9802L, 59826L, 29715L, 46201L, 27543L, 104427L, 38401L,
    5877L, 72679L, 77154L, 10115L, 38512L, 27367L, 54095L, 26347L,
    79238L, 78883L, 76715L, 73983L, 5058L, 50458L, 89994L, 16548L,
    96875L, 80003L, 35552L)

  /** Sign hash i for `key`: +1 / −1 as a bigint column. */
  def amsSign(key: Column, i: Int): Column = {
    val v = pmod(key * AmsA(i) + AmsB(i), lit(CmP))
    when(pmod(v * v, lit(CmP)) % 2 === 0, 1L).otherwise(-1L)
  }

  /** `CASE i WHEN 0 THEN v(0) ...` — the oracle-side replica of
    * indexing the AMS constant arrays by estimator row. */
  private def amsCase(v: Seq[Long]): String =
    v.indices.map(i => s"WHEN $i THEN ${v(i)}")
      .mkString("CASE i ", " ", " END")

  /** The AmsD sign-sum aggregate columns (z0..z63) over a frame with
    * a user_id column — shared by the batch gate and the STREAMING
    * maintenance (each sum is associative, so it is also a valid
    * streaming-aggregation state). */
  private[operators] def amsZSums: Seq[Column] =
    (0 until AmsD).map(i => sum(amsSign(col("user_id"), i)).as(s"z$i"))

  /** Shared audit body for q_sketch_ams AND q_stream_ams: square the
    * maintained z columns into the estimate and join the exact-F2
    * companion computed from `ev` (the one user-level shuffle — gate
    * scaffolding, sampled at corpus scale). */
  private[operators] def amsAudit(z: DataFrame, ev: DataFrame): DataFrame = {
    val est = z.select(col("event_type"),
      (0 until AmsD).map(i => col(s"z$i") * col(s"z$i"))
        .reduce(_ + _).as(s"ams_x$AmsD"))
    val f2 = ev.groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(sum(col("c") * col("c")).as("f2_exact"))
    f2.join(broadcast(est), "event_type")
      .select(col("event_type"), col("f2_exact"), col(s"ams_x$AmsD"),
        expr(s"ams_x$AmsD DIV $AmsD").as("ams_est"),
        (col(s"ams_x$AmsD") * 2 >= col("f2_exact") * AmsD &&
          col(s"ams_x$AmsD") <= col("f2_exact") * (2 * AmsD))
          .as("within_2x"))
  }

  /** The half-split predicate + per-type counts shared by
    * q_drift_2prop and q_stream_drift: rows strictly below the span
    * midpoint land in half 0 (the reference window), the rest in
    * half 1 — ONE definition of the split rule and the r_cnt/l_cnt
    * aggregation, so retuning either (e.g. < vs <=, or generalizing
    * the midpoint to a reference-window constant) cannot fork the
    * batch screen from the stream-maintained counts. `mm` is the
    * min+max comparison constant: a literal in the stream gate, the
    * broadcast scalar column in batch. */
  private[operators] def driftHalfCounts(
      ev: DataFrame, mm: Column): DataFrame =
    ev.select(col("event_type"),
        when(col("ts_us") * 2 < mm, 0).otherwise(1).as("half"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("r_cnt"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("l_cnt"))

  /** The two-proportion drift screen body over an `ev` frame with
    * (event_type, ts_us) — factored so the spec can plant a drifting
    * fixture through the identical arithmetic. */
  private[operators] def driftTwoProp(ev: DataFrame): DataFrame = {
    val span = ev.agg((min(col("ts_us")) + max(col("ts_us"))).as("mm"))
    driftFlags(driftHalfCounts(ev.crossJoin(broadcast(span)), col("mm")))
  }

  /** ONE oracle for q_drift_2prop AND q_stream_drift: the
    * two-proportion flags both the batch screen and the
    * stream-maintained counts must reproduce — exact-integer dev
    * numerator (HUGEINT), double-domain z² comparison (see
    * [[driftFlags]] for the overflow arithmetic). */
  private[operators] def driftSql: String =
    """WITH b AS (SELECT event_type,
      |                  CASE WHEN 2 * epoch_us(ts) <
      |                         (SELECT min(epoch_us(ts)) + max(epoch_us(ts))
      |                          FROM events)
      |                       THEN 0 ELSE 1 END AS half
      |           FROM events),
      |c AS (SELECT event_type,
      |             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)
      |                  AS BIGINT) AS r_cnt,
      |             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)
      |                  AS BIGINT) AS l_cnt
      |      FROM b GROUP BY 1),
      |t AS (SELECT CAST(sum(r_cnt) AS BIGINT) AS rt,
      |             CAST(sum(l_cnt) AS BIGINT) AS lt FROM c),
      |d AS (SELECT c.event_type, c.r_cnt, c.l_cnt, t.rt, t.lt,
      |             CAST(CAST(c.r_cnt AS HUGEINT) * t.lt
      |                  - CAST(c.l_cnt AS HUGEINT) * t.rt AS DOUBLE) AS dev
      |      FROM c, t)
      |SELECT event_type, r_cnt, l_cnt,
      |       dev AS dev_num,
      |       CAST(CASE WHEN
      |              dev * dev * CAST(rt + lt AS DOUBLE)
      |            > 9 * CAST(rt AS DOUBLE) * CAST(lt AS DOUBLE)
      |                * CAST(r_cnt + l_cnt AS DOUBLE)
      |                * CAST(rt + lt - r_cnt - l_cnt AS DOUBLE)
      |            THEN 1 ELSE 0 END AS INTEGER) AS drifted
      |FROM d""".stripMargin

  /** The flag arithmetic over a `(event_type, r_cnt, l_cnt)` counts
    * frame — shared by the batch gate and the STREAMING maintenance
    * (whose counts are streaming-aggregation state), so the exact
    * integer test cannot fork between them. */
  private[operators] def driftFlags(c: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val t = c.agg(sum(col("r_cnt")).as("rt"), sum(col("l_cnt")).as("lt"))
    // dev's cross-products run in DECIMAL (a bare LONG multiply of
    // r·lt throws under ANSI past ~3e9 events); the z² comparison
    // then runs in DOUBLE over exactly-cast factors — the former
    // all-decimal form dev²·N is ~N⁵, which bursts decimal(38) (and
    // the oracle's HUGEINT) at only ~1e8 events: a silent
    // NULL→never-drifts before ANSI, a throw under it. Both engines
    // cast the same exact integers to the same nearest doubles and
    // run the identical multiply tree, so the flag stays bit-identical
    // cross-engine at ANY volume; the comparison is mathematically
    // exact while every factor sits under 2^53 and within a few ulp
    // beyond — invisible to a 3-sigma screen.
    val devD = (col("r_cnt").cast(d38) * col("lt").cast(d38) -
      col("l_cnt").cast(d38) * col("rt").cast(d38)).cast("double")
    c.crossJoin(broadcast(t))
      .select(col("event_type"), col("r_cnt"), col("l_cnt"),
        devD.as("dev_num"),
        when(devD * devD * (col("rt") + col("lt")).cast("double") >
            lit(9.0) * col("rt").cast("double") * col("lt").cast("double") *
              (col("r_cnt") + col("l_cnt")).cast("double") *
              (col("rt") + col("lt") - col("r_cnt") - col("l_cnt"))
                .cast("double"),
          1).otherwise(0).cast("int").as("drifted"))
  }

  /** ONE oracle for q_sketch_ams AND q_stream_ams: the deterministic
    * estimate replayed value-for-value plus the exact F2 companion —
    * the within_2x flag is computed, not asserted, on both engines. */
  private[operators] def amsAuditSql: String =
    s"""WITH v AS (
       |  SELECT event_type, i,
       |         ((user_id * ${amsCase(AmsA)}
       |           + ${amsCase(AmsB)}) % $CmP) AS v
       |  FROM events, (SELECT unnest(range($AmsD)) AS i)),
       |z AS (
       |  SELECT event_type, i,
       |         CAST(sum(CASE WHEN ((v * v) % $CmP) % 2 = 0
       |                       THEN 1 ELSE -1 END) AS BIGINT) AS z
       |  FROM v GROUP BY 1, 2),
       |est AS (SELECT event_type, CAST(sum(z * z) AS BIGINT) AS ams_x$AmsD
       |        FROM z GROUP BY 1),
       |c AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
       |      FROM events GROUP BY 1, 2),
       |f2 AS (SELECT event_type, CAST(sum(c * c) AS BIGINT) AS f2_exact
       |       FROM c GROUP BY 1)
       |SELECT f2.event_type, f2.f2_exact, est.ams_x$AmsD,
       |       est.ams_x$AmsD // $AmsD AS ams_est,
       |       est.ams_x$AmsD * 2 >= f2.f2_exact * $AmsD
       |         AND est.ams_x$AmsD <= f2.f2_exact * ${2 * AmsD}
       |         AS within_2x
       |FROM f2 JOIN est ON f2.event_type = est.event_type""".stripMargin

  /** All CmDepth buckets for `key`, ready to posexplode. */
  def cmBuckets(key: Column): Column =
    array((0 until CmDepth).map(cmBucket(key, _)): _*)

  /** DuckDB replica of the bucket arithmetic, as a `b` CTE over
    * events × hash rows: (user_id, i, bucket). */
  def cmBucketsCte: String = {
    def aCase(v: Seq[Long]): String =
      (0 until CmDepth).map(i => s"WHEN $i THEN ${v(i)}")
        .mkString("CASE i ", " ", " END")
    s"""b AS (
       |  SELECT user_id, i,
       |         ((user_id * ${aCase(CmA)} + ${aCase(CmB)})
       |          % $CmP) % $CmWidth AS bucket
       |  FROM events, (SELECT unnest(range($CmDepth)) AS i))""".stripMargin
  }

  /** Epoch-microseconds per day — cohort granularity for
    * [[cohortRetention]] (the synthetic event stream spans ~5 weeks,
    * so day cohorts discriminate at every scale factor; a production
    * run passes weeks by scaling the constant). */
  val DayUs = 86400000000L

  /** Epoch-microseconds per hour — [[all]]'s anomaly-screen bucket. */
  val HourUs = 3600000000L

  /** Classic cohort-retention analysis: users grouped by first-active
    * day, then for each (cohort, day-offset) how many of the cohort's
    * users were active — the activation/stickiness table behind every
    * product dashboard, and for a training-data platform the
    * "contributor freshness" view of an event/feedback stream.
    *
    * Scale: ONE shuffle on user_id builds the per-user active-day
    * set via a map-side-combinable collect_set (bounded by the time
    * range, not event volume — 10^2-ish days, not 10^9 events); the
    * retention matrix aggregate and its cohort-size window then run
    * on cohortscount×offsets rows, dashboard-sized at any corpus
    * scale. Integer day/offset arithmetic and an exact-int floor for
    * the rate, so both engines agree bit-for-bit. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val perUser = events
      .select(col("user_id"), expr(s"ts_us div $DayUs").as("d"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("d")).as("days"))
      .select(col("user_id"), array_min(col("days")).as("cohort_day"),
        explode(col("days")).as("d"))
    val ret = perUser
      .groupBy(col("cohort_day"),
        (col("d") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
    // cohort size = the offset-0 count (a user's first day is active
    // by construction) — read it back with a window over the tiny
    // retention matrix instead of recomputing the corpus side
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort_day"))
    ret
      .withColumn("cohort_size",
        max(when(col("day_offset") === 0, col("n_users"))).over(w))
      .select(col("cohort_day"), col("day_offset"), col("n_users"),
        floor(col("n_users") * 10000 / col("cohort_size")).cast("bigint")
          .as("retention_x10000"))
  }

  val all: Seq[QueryDef] = Seq(

    // Cohort retention: first-active-day cohorts × day offsets with
    // per-cohort normalized rates — one user_id shuffle, then
    // dashboard-sized aggregates (see cohortRetention).
    QueryDef.sql(
      "q_cohort_retention",
      s"""WITH e AS (SELECT user_id, epoch_us(ts) // $DayUs AS d FROM events),
         |uw AS (SELECT DISTINCT user_id, d FROM e),
         |c AS (SELECT user_id, min(d) AS cohort_day FROM uw GROUP BY user_id),
         |r AS (SELECT c.cohort_day, uw.d - c.cohort_day AS day_offset,
         |             CAST(count(*) AS BIGINT) AS n_users
         |      FROM uw JOIN c ON uw.user_id = c.user_id
         |      GROUP BY 1, 2)
         |SELECT cohort_day, day_offset, n_users,
         |       CAST(floor(n_users * 10000.0 /
         |              max(CASE WHEN day_offset = 0 THEN n_users END)
         |                OVER (PARTITION BY cohort_day)) AS BIGINT)
         |         AS retention_x10000
         |FROM r""".stripMargin) {
      (s, dir) => cohortRetention(Tables.events(s, dir))
    },

    // Count-Min sketch frequency estimation (Cormode & Muthukrishnan
    // J.Alg'05) with an exact audit: per-user event-count estimates
    // read from a CmDepth×CmWidth counter table next to the true
    // counts. The sketch is the 100 TB heavy-hitter screen: counters
    // are FIXED SIZE (d·w cells, here 192) whatever the key
    // cardinality, built with one map-side-combinable groupBy and
    // merged associatively across partitions/streams; estimates then
    // broadcast-join the tiny sketch. The exact companion pins the
    // one-sided error invariant (cm_est ≥ exact, over_by = collision
    // mass) value-for-value — the same audit-column pattern as
    // q_approx_distinct.
    QueryDef.sql(
      "q_sketch_cm",
      s"""WITH $cmBucketsCte,
         |sk AS (SELECT i, bucket, CAST(count(*) AS BIGINT) AS c
         |       FROM b GROUP BY 1, 2),
         |exact AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
         |          FROM events GROUP BY 1),
         |kb AS (SELECT DISTINCT user_id, i, bucket FROM b)
         |SELECT e.user_id, e.exact_cnt,
         |       min(sk.c) AS cm_est,
         |       min(sk.c) - e.exact_cnt AS over_by
         |FROM exact e
         |JOIN kb ON kb.user_id = e.user_id
         |JOIN sk ON sk.i = kb.i AND sk.bucket = kb.bucket
         |GROUP BY e.user_id, e.exact_cnt""".stripMargin) {
      (s, dir) =>
        import graft.operators.Materialize.PinOps
        val buckets = cmBuckets(col("user_id"))
        // pinned: feeds BOTH the sketch build and the exact-count
        // companion — unpinned, each consumer re-scans events (the
        // q_text_rarity two-consumer discipline)
        val ev = Tables.events(s, dir).select(col("user_id")).pinned
        val sketch = ev
          .select(posexplode(buckets).as(Seq("i", "bucket")))
          .groupBy(col("i"), col("bucket"))
          .agg(count(lit(1)).as("c"))
        ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_cnt"))
          .select(col("user_id"), col("exact_cnt"),
            posexplode(buckets).as(Seq("i", "bucket")))
          .join(broadcast(sketch), Seq("i", "bucket"))
          .groupBy(col("user_id"), col("exact_cnt"))
          .agg(min(col("c")).as("cm_est"))
          .select(col("user_id"), col("exact_cnt"), col("cm_est"),
            (col("cm_est") - col("exact_cnt")).as("over_by"))
    },

    // AMS tug-of-war F2 sketch (Alon–Matias–Szegedy STOC'96): per
    // event type, the SELF-JOIN SIZE on user_id (F2 = Σ_u c_u², the
    // statistic a cost-based optimizer wants before planning a
    // fact-fact join) estimated as mean of AmsD squared sign-sums —
    // and the sketch side never materializes per-key counts at all:
    // Z_i = Σ_u s_i(u)·c_u = Σ_events s_i(user_id), one map-side-
    // combinable groupBy straight off the event stream to types×AmsD
    // cells, whatever the user cardinality. Sign hashes are plain
    // integer arithmetic (cmBucket discipline), so the ESTIMATE is
    // deterministic and hash-compared value-for-value across engines
    // — the exact F2 companion (the one user-level shuffle) is audit
    // scaffolding, and the within_2x flag is COMPUTED on both sides,
    // not asserted. Estimator std √(2/AmsD)·F2 ≈ 0.18·F2 at D=64, so
    // the ±2× band is >5σ wide (measured 0.86-1.26× at every SF).
    QueryDef.sql("q_sketch_ams", amsAuditSql) { (s, dir) =>
      val ev = Tables.events(s, dir)
      amsAudit(
        ev.groupBy(col("event_type")).agg(amsZSums.head, amsZSums.tail: _*),
        ev)
    },

    // Map-typed function surface (SURVEY F8's "map functions"): build
    // a per-user event_type → count MAP in-query (map_from_entries
    // over sorted entries, so key order is deterministic) and derive
    // size / map_keys / element_at lookups from it. The OUTPUT is
    // plain scalars + a joined key string, so the oracle replicates
    // the map semantics relationally without needing an engine MAP
    // representation to hash identically. One user_id shuffle after a
    // map-side (user, type) pre-aggregate — group cardinality bounds
    // the exchange at any event volume.
    QueryDef.sql(
      "q_map_funcs",
      """WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
        |           FROM events GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS INTEGER) AS n_types,
        |       string_agg(event_type, ',' ORDER BY event_type) AS types,
        |       CAST(coalesce(max(CASE WHEN event_type = 'purchase' THEN cnt END), 0) AS BIGINT) AS purchases,
        |       CAST(coalesce(max(CASE WHEN event_type = 'view' THEN cnt END), 0) AS BIGINT) AS views
        |FROM c GROUP BY user_id""".stripMargin) {
      (s, dir) =>
        val m = Tables(s, dir, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("user_id"))
          .agg(map_from_entries(array_sort(
            collect_list(struct(col("event_type"), col("cnt"))))).as("m"))
        m.select(col("user_id"),
          size(col("m")).as("n_types"),
          concat_ws(",", map_keys(col("m"))).as("types"),
          coalesce(element_at(col("m"), "purchase"), lit(0L)).as("purchases"),
          coalesce(element_at(col("m"), "view"), lit(0L)).as("views"))
    },

    QueryDef.sql("q_funnel", funnelSql) {
      (s, dir) => funnelCounts(funnelStages(Tables.events(s, dir)))
    },

    // Ingest-volume anomaly screen: per-type hourly event counts
    // flagged where |count − mean| > 3σ of that type's hourly series —
    // the ops-telemetry query every ingestion pipeline runs to catch a
    // stalled producer or a runaway duplicate storm. The z-test is
    // done in EXACT integer arithmetic — z² = (c·n − Σc)² vs
    // 9·(n·Σc² − (Σc)²), widened to decimal(38,0)/HUGEINT for the
    // squares — so both engines compute identical flags with no float
    // rounding freedom. Scale: one (type, hour) map-side-combinable
    // groupBy (output rows = types × hours, dashboard-sized at any
    // event volume), then the 5-row per-type stats table broadcasts
    // back onto it — no second shuffle.
    QueryDef.sql(
      "q_events_anomaly",
      s"""WITH h AS (SELECT event_type, epoch_us(ts) // $HourUs AS hr,
         |                  CAST(count(*) AS BIGINT) AS c
         |           FROM events GROUP BY 1, 2),
         |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |              CAST(sum(c) AS BIGINT) AS sum_c,
         |              CAST(sum(c * c) AS BIGINT) AS sum_c2
         |       FROM h GROUP BY 1)
         |SELECT h.event_type, h.hr, h.c,
         |       h.c * st.n - st.sum_c AS dev_num,
         |       CAST(CASE WHEN CAST(h.c * st.n - st.sum_c AS HUGEINT)
         |                      * (h.c * st.n - st.sum_c)
         |                    > 9 * (CAST(st.n AS HUGEINT) * st.sum_c2
         |                           - CAST(st.sum_c AS HUGEINT) * st.sum_c)
         |                 THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
         |FROM h JOIN st ON h.event_type = st.event_type""".stripMargin) {
      (s, dir) =>
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val h = Tables.events(s, dir)
          .groupBy(col("event_type"),
            expr(s"ts_us DIV $HourUs").as("hr"))
          .agg(count(lit(1)).as("c"))
        val st = h.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_c"),
            sum(col("c") * col("c")).as("sum_c2"))
        val dev = col("c") * col("n") - col("sum_c")
        val varNum = col("n").cast(d38) * col("sum_c2") -
          col("sum_c").cast(d38) * col("sum_c")
        h.join(broadcast(st), "event_type")
          .select(col("event_type"), col("hr"), col("c"),
            dev.as("dev_num"),
            when(dev.cast(d38) * dev.cast(d38) > lit(9) * varNum, 1)
              .otherwise(0).cast("int").as("is_anomaly"))
    },

    // Spark's NATIVE session_window aggregation over the same event
    // stream the custom sessionizers handle — the declarative form a
    // Spark-first user reaches for before writing state code, and it
    // works unchanged under readStream (watermark + append mode).
    // Semantics differ from q_sessionize's split rule by design:
    // session_window merges events whose [ts, ts+gap) windows
    // OVERLAP, i.e. splits when the gap is >= 30 min (half-open),
    // where the custom pair splits on > — the oracle mirrors the
    // native >= rule, and window.end is last_ts + gap by definition.
    // One user_id+session shuffle; the merge is Spark's own
    // session-window state logic, not a window function.
    QueryDef.sql("q_session_window", sessionWindowSql) { (s, dir) =>
      sessionWindowAgg(Tables.events(s, dir))
    },

    // Mergeable HLL distinct counting (Apache DataSketches, bundled
    // with Spark 4): per-source document-hash cardinality from a
    // sketch whose partials merge associatively — THE 100 TB distinct
    // path: map-side sketches, one lgK-bounded merge per group, and
    // stored per-day sketches union into rolling windows without
    // rescanning (the cross-run composability exact distinct can
    // never have). The gate audits the accuracy contract against the
    // exact count (the oracle's TRUE column is the assertion: an
    // estimate drifting past 5% flips the flag and fails the hash) —
    // same audit pattern as q_sketch_cm's one-sided-error column;
    // the spec additionally pins the partial-union path's determinism
    // and its own 5% bound (union is NOT register-exact vs one pass —
    // the HLL_8 union gadget can settle the HLL_4 target a hair
    // differently — but it IS deterministic and equally accurate).
    QueryDef.sql("q_sketch_hll", hllAuditSql) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      hllAudit(
        docs.groupBy(col("source"))
          .agg(hll_sketch_estimate(
            hll_sketch_agg(md5(col("text").cast("binary")))).as("est")),
        docs)
    },

    // ROLLING-window distinct via HLL sketch UNION — the
    // composability the plain sketch gate only claims, demonstrated:
    // per-(type, hour) sketches are built ONCE, and every trailing
    // 3-hour distinct-user count comes from unioning three standing
    // sketches (a RANGE window over sketch blobs) — history is never
    // rescanned, which is the property that lets a 100 TB pipeline
    // keep per-day sketches and answer any window after the fact.
    // The exact audit side rewrites the hour-range join as a bounded
    // explode (e.hr BETWEEN h-2 AND h ⇔ h ∈ {hr, hr+1, hr+2} — the
    // chunk_sliding trick), so it shuffles 3× (type, hour, user)
    // triples instead of range-joining the corpus. Audit discipline
    // = q_sketch_hll's: the 5% contract is the hashed flag.
    QueryDef.sql(
      "q_sketch_hll_rolling",
      s"""WITH e AS (SELECT event_type, user_id,
         |                  epoch_us(ts) // $HourUs AS hr FROM events),
         |h AS (SELECT DISTINCT event_type, hr FROM e),
         |x AS (SELECT h.event_type, h.hr,
         |             CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_exact
         |      FROM h JOIN e ON e.event_type = h.event_type
         |                   AND e.hr BETWEEN h.hr - 2 AND h.hr
         |      GROUP BY 1, 2)
         |SELECT event_type, hr, n_exact, TRUE AS hll_within_5pct
         |FROM x""".stripMargin) { (s, dir) =>
      import graft.operators.Materialize.PinOps
      val e = Tables.events(s, dir)
        .select(col("event_type"), col("user_id"),
          expr(s"ts_us DIV $HourUs").as("hr"))
      // pinned: the sketch window AND the exact-grid join both read
      // the hourly aggregate — without the pin each consumer re-runs
      // the per-hour sketch aggregation over the events scan
      val hourly = e.groupBy(col("event_type"), col("hr"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .pinned
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("hr")).rangeBetween(-2, 0)
      val est = hourly.select(col("event_type"), col("hr"),
        hll_sketch_estimate(hll_union_agg(col("sk")).over(w)).as("est"))
      val exact = e
        .select(col("event_type"), col("user_id"),
          explode(array(col("hr"), col("hr") + 1, col("hr") + 2)).as("h"))
        // the observed-hour grid IS hourly's key set — reusing it
        // saves a second full event-level distinct shuffle
        .join(hourly.select(col("event_type"), col("hr").as("h")),
          Seq("event_type", "h"))
        .groupBy(col("event_type"), col("h").as("hr"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(est, Seq("event_type", "hr"))
        .select(col("event_type"), col("hr"), col("n_exact"),
          (abs(col("est") - col("n_exact")) * 20 <= col("n_exact"))
            .as("hll_within_5pct"))
    },

    // Mergeable Misra–Gries frequent items (the fourth classic
    // sketch next to count-min / HLL / approx-quantile): per-source
    // char-trigram heavy hitters — the top-n-gram table the langid
    // profile (q_text_langid) is built from, computed with k counters
    // of state per source instead of a full (source, gram) shuffle of
    // an unbounded key space. Partials merge associatively
    // (Mergeable Summaries, PODS'12), so the same aggregator is a
    // valid streaming-aggregation state. The summary CONTENT is
    // partition-order-dependent, so the gate hashes only the
    // order-independent consequences of the MG guarantees, each a
    // theorem the oracle asserts as TRUE: the sketch's exact item
    // total; every exact heavy hitter (count > n/(k+1), the oracle's
    // n_heavy column counts them — 4-5 per source at k=99 on this
    // corpus) present in the summary; and est ≤ true ≤ est + n/(k+1)
    // for each. The exact audit side is gate-only scaffolding — at
    // 100 TB you'd audit on a sample (the q_lsh_recall discipline);
    // the sketch itself never shuffles more than 20 × k counters.
    QueryDef.sql("q_sketch_freq", freqAuditSql) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      // spread BEFORE the sketch aggregate: the trigram explode + MG
      // fold runs in the partial-aggregation stage, which sits in the
      // SCAN stage's tasks — a one-file corpus would fold the whole
      // trigram mass on one core (the q_stream_dedup_clusters r17
      // lesson, batch flavor). freqAudit spreads its own exact side.
      freqAudit(
        DedupOps.spread(docs).groupBy(col("source"))
          .agg(graft.functions.FrequentItems
            .sketch(s, trigrams(s, col("text")), FreqK).as("mg")),
        docs)
    },

    // Per-type ingest-volume TREND: ordinary-least-squares slope of
    // daily event counts in EXACT integer arithmetic — the
    // "is this source growing or dying" screen next to the 3σ hourly
    // anomaly flag. Days are re-based to each type's first day so the
    // OLS sums stay small; slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is
    // carried as an exact integer fraction plus a floor-divided
    // slope_x100, so both engines agree bit for bit (the
    // q_events_anomaly discipline). One map-side-combinable
    // (type, day) groupBy, then everything runs on the dashboard-
    // sized per-type day table.
    QueryDef.sql(
      "q_volume_trend",
      s"""WITH d AS (
         |  SELECT event_type, epoch_us(ts) // ${24 * HourUs} AS day,
         |         CAST(count(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2),
         |r AS (SELECT event_type,
         |             day - min(day) OVER (PARTITION BY event_type) AS x,
         |             c
         |      FROM d),
         |s AS (SELECT event_type,
         |             CAST(count(*) AS BIGINT) AS n,
         |             sum(x) AS sx, sum(c) AS sy,
         |             sum(x * c) AS sxy, sum(x * x) AS sxx
         |      FROM r GROUP BY 1)
         |SELECT event_type, n AS n_days,
         |       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
         |       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
         |       CAST(CASE WHEN n * sxx - sx * sx <> 0
         |                 THEN (100 * (n * sxy - sx * sy))
         |                      // (n * sxx - sx * sx)
         |                 ELSE 0 END AS BIGINT) AS slope_x100,
         |       n * sxy - sx * sy > 0 AS rising
         |FROM s""".stripMargin) { (s, dir) =>
      val d = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr(s"ts_us DIV ${24 * HourUs}").as("day"))
        .agg(count(lit(1)).as("c"))
      val r = d.select(col("event_type"),
        (col("day") - min(col("day")).over(
          Window.partitionBy(col("event_type")))).as("x"),
        col("c"))
      val st = r.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("c")).as("sy"),
          sum(col("x") * col("c")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val den = col("n") * col("sxx") - col("sx") * col("sx")
      st.select(col("event_type"), col("n").as("n_days"),
        num.as("slope_num"), den.as("slope_den"),
        when(den =!= 0, expr(
          "(100 * (n * sxy - sx * sy)) DIV (n * sxx - sx * sx)"))
          .otherwise(0L).as("slope_x100"),
        (num > 0).as("rising"))
    },

    // Per-user engagement CADENCE: the inter-event gap distribution —
    // n_gaps, min/max, and the EXACT median gap by discrete-rank
    // selection (the q_length_quartiles integer discipline, so no
    // interpolation convention can diverge). The session-gap/churn
    // tuning input: sessionization thresholds and quiet horizons are
    // set from exactly this table. One user_id shuffle; the lag and
    // rank windows and the aggregate all share that partitioning,
    // and user_id is the high-cardinality key so no reducer sees
    // more than one user's events.
    QueryDef.sql(
      "q_events_dwell",
      """WITH g AS (
        |  SELECT user_id,
        |         epoch_us(ts) - lag(epoch_us(ts))
        |           OVER (PARTITION BY user_id
        |                 ORDER BY epoch_us(ts), event_id) AS gap
        |  FROM events),
        |r AS (SELECT user_id, gap,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY gap) AS rn,
        |             count(*) OVER (PARTITION BY user_id) AS n
        |      FROM g WHERE gap IS NOT NULL)
        |SELECT user_id, CAST(max(n) AS BIGINT) AS n_gaps,
        |       CAST(min(gap) AS BIGINT) AS min_gap_us,
        |       CAST(min(CASE WHEN rn = (n-1)*50//100 + 1 THEN gap END)
        |            AS BIGINT) AS p50_gap_us,
        |       CAST(max(gap) AS BIGINT) AS max_gap_us
        |FROM r GROUP BY user_id""".stripMargin) { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id"))
      val g = Tables.events(s, dir)
        .select(col("user_id"),
          (col("ts_us") - lag(col("ts_us"), 1).over(
            byUser.orderBy(col("ts_us"), col("event_id")))).as("gap"))
        .filter(col("gap").isNotNull)
      g.withColumn("rn", row_number().over(byUser.orderBy(col("gap"))))
        .withColumn("n", count(lit(1)).over(byUser))
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n_gaps"),
          min(col("gap")).as("min_gap_us"),
          min(when(col("rn") === expr("(n - 1) * 50 div 100 + 1"),
            col("gap"))).as("p50_gap_us"),
          max(col("gap")).as("max_gap_us"))
    },

    // Distribution-DRIFT screen: per event type, the pooled
    // two-proportion z-test between a reference window (first half of
    // the stream's time range) and the live window (second half) —
    // the "did the event mix shift" monitor every ingest pipeline
    // pairs with the volume trend. The half-split is exact integer
    // (2·ts < min+max, no division) and the dev numerator is exact
    // decimal/HUGEINT; z² > 9 (3σ) is cross-multiplied to
    // (r·L − l·R)²·(R+L) > 9·R·L·(r+l)·(R+L−r−l) and compared in
    // DOUBLE over exactly-cast factors (the all-decimal form is ~N⁵
    // — it bursts 38 digits at only ~1e8 events) — flags stay
    // bit-identical cross-engine at any volume, computed not
    // asserted. One (type, half) map-side-combinable groupBy; the
    // two one-row totals broadcast.
    QueryDef.sql("q_drift_2prop", driftSql) { (s, dir) =>
      driftTwoProp(Tables.events(s, dir))
    },

    // Time-series gap fill with linear interpolation: each event
    // type's hourly ingest-volume series, densified over its own
    // [min, max] hour span, missing hours linearly interpolated
    // between the nearest observed neighbors — the regularization
    // step every downstream forecaster/anomaly model assumes. Engine
    // parity by construction: the hourly series is EXACT INTEGER
    // CENTS (per-element round(value·100) summed as BIGINT — the
    // q_window_trailing discipline, so no float sum order can
    // diverge between Spark's partial aggregation and DuckDB's), and
    // the interpolated value is computed ENTIRELY in integer 1e-4
    // units (numerator cross-form × 100, one truncating integer
    // division — NOT round(double, 4), whose half-up boundary is the
    // documented Spark-vs-DuckDB divergence the q_quality_clf floor
    // switch exists for) before ONE identical final /10000.0, so the
    // doubles match bit for bit on both engines. NEGATIVE cents are
    // covered too: both engines truncate integer division toward
    // zero (empirically pinned — DuckDB `-7 // 2` = −3, same as
    // Spark `-7 DIV 2`; DuckDB's `//` is NOT Python floor division;
    // EventAnalyticsSpec pins the Spark side so an engine-semantics
    // change surfaces loudly instead of as a silent off-by-1e-4 on
    // negative-value series). Scale:
    // one (type, hour) groupBy — map-side combinable — then every
    // window runs on the types × hours grid, dashboard-sized however
    // large the event volume; interior gaps always have both
    // neighbors because the span ends are observed hours.
    QueryDef.sql(
      "q_timeseries_fill",
      s"""WITH hourly AS (
         |  SELECT event_type, epoch_us(ts) // $HourUs AS hr,
         |         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT event_type, min(hr) AS lo, max(hr) AS hi
         |      FROM hourly GROUP BY 1),
         |grid AS (SELECT event_type, unnest(range(lo, hi + 1)) AS hr FROM b),
         |j AS (SELECT g.event_type, g.hr, h.c
         |      FROM grid g LEFT JOIN hourly h
         |        ON g.event_type = h.event_type AND g.hr = h.hr),
         |f AS (SELECT event_type, hr, c,
         |             last_value(c IGNORE NULLS) OVER wp AS pc,
         |             last_value(CASE WHEN c IS NOT NULL THEN hr END IGNORE NULLS)
         |               OVER wp AS ph,
         |             first_value(c IGNORE NULLS) OVER wn AS nc,
         |             first_value(CASE WHEN c IS NOT NULL THEN hr END IGNORE NULLS)
         |               OVER wn AS nh
         |      FROM j
         |      WINDOW wp AS (PARTITION BY event_type ORDER BY hr
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |             wn AS (PARTITION BY event_type ORDER BY hr
         |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT event_type, hr,
         |       CASE WHEN c IS NOT NULL THEN c / 100.0
         |            ELSE ((pc * (nh - hr) + nc * (hr - ph)) * 100
         |                  // (nh - ph)) / 10000.0
         |       END AS value_filled,
         |       c IS NULL AS is_filled
         |FROM f""".stripMargin) { (s, dir) =>
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"), expr(s"ts_us DIV $HourUs").as("hr"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("c"))
      val grid = hourly.groupBy(col("event_type"))
        .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
        .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("hr"))
      val wp = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      grid.join(hourly, Seq("event_type", "hr"), "left")
        .select(col("event_type"), col("hr"), col("c"),
          last(col("c"), ignoreNulls = true).over(wp).as("pc"),
          last(when(col("c").isNotNull, col("hr")), ignoreNulls = true)
            .over(wp).as("ph"),
          first(col("c"), ignoreNulls = true).over(wn).as("nc"),
          first(when(col("c").isNotNull, col("hr")), ignoreNulls = true)
            .over(wn).as("nh"))
        .select(col("event_type"), col("hr"),
          when(col("c").isNotNull, col("c") / lit(100.0))
            // exact integer 1e-4 units, ONE final double division —
            // identical integers + identical IEEE op on both engines
            .otherwise(expr(
              "((pc * (nh - hr) + nc * (hr - ph)) * 100) DIV (nh - ph)")
              / lit(10000.0))
            .as("value_filled"),
          col("c").isNull.as("is_filled"))
    }
  )

  /** Misra–Gries counter budget for q_sketch_freq: heavy-hitter
    * threshold n/(k+1) = 1% of each source's trigram mass — measured
    * against this corpus (top trigram ≈ 2%, vocab ≈ 365/source), k=99
    * leaves 4-5 true heavies per source at every SF while the sketch
    * holds well under a third of the vocabulary, so the
    * decrement/merge-trim paths genuinely run. (A `final val`
    * literal — constant-folded, so the `all` val above can read it
    * during object init, same trap as the oracle `def`s.) */
  private[operators] final val FreqK = 99

  /** Char 3-shingles of `text`, 1-based — the oracle's scalar
    * generate_series + substr list. Since r17 a native codegen
    * expression ([[graft.functions.CharNgrams]]): the former
    * interpreted `transform(sequence, substr)` paid per-element
    * lambda dispatch plus substr's from-the-start char seek per gram
    * (O(len²) on multi-byte text); the expression walks char offsets
    * once. Value-exact with the HOF composition it replaced — the
    * parity spec drives both over random multi-byte/short/empty/null
    * strings — including the short-string guard the HOF needed
    * (`sequence(1, len)` DESCENDS when len < 1 where DuckDB's returns
    * empty; the expression returns an empty array below n chars). */
  private[operators] def trigrams(s: SparkSession, text: Column): Column =
    graft.functions.CharNgrams(s, text, 3)

  /** ONE oracle for q_sketch_freq AND q_stream_freq: the exact
    * trigram totals plus the MG guarantee flags, which hold for any
    * partitioning / merge tree / micro-batching by theorem — an
    * implementation bug (a lost count, a dropped heavy hitter, a
    * broken merge) flips a flag and fails the hash. */
  private[operators] def freqAuditSql: String =
    s"""WITH g AS (SELECT source,
       |             unnest(list_transform(generate_series(1, length(text) - 2),
       |                                   i -> substr(text, i, 3))) AS g
       |           FROM documents),
       |c AS (SELECT source, g, CAST(count(*) AS BIGINT) AS c
       |      FROM g GROUP BY 1, 2),
       |n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_grams
       |      FROM c GROUP BY 1)
       |SELECT n.source, n.n_grams, TRUE AS sketch_n_ok,
       |       CAST(coalesce(sum(CASE WHEN c.c * ${FreqK + 1} > n.n_grams
       |                              THEN 1 END), 0) AS BIGINT) AS n_heavy,
       |       TRUE AS all_heavy_found, TRUE AS under_bound_ok
       |FROM n LEFT JOIN c ON n.source = c.source
       |GROUP BY 1, 2""".stripMargin

  /** Shared audit body for q_sketch_freq AND q_stream_freq: joins a
    * per-source MG sketch `(source, mg: struct(n, items))` — however
    * it was maintained — to the exact trigram inventory and emits
    * ONLY order-independent consequences of the MG guarantees. The
    * exact side is gate scaffolding (sample it at corpus scale); the
    * sketch side broadcast-joins as 20 × k counters. */
  private[operators] def freqAudit(sk: DataFrame,
      docs: DataFrame): DataFrame = {
    // the exact recount explodes every trigram in the corpus — CPU
    // work that must not run on a one-file scan's single task (it
    // takes `docs` raw, not pre-spread, so the two callers can't
    // double-exchange)
    val exact = DedupOps.spread(docs)
      .select(col("source"),
        explode(trigrams(docs.sparkSession, col("text"))).as("g"))
      .groupBy(col("source"), col("g"))
      .agg(count(lit(1)).as("c"))
    val tot = exact.groupBy(col("source"))
      .agg(sum(col("c")).as("n_grams"))
    val flags = exact.join(tot, "source")
      .where(col("c") * (FreqK + 1) > col("n_grams"))
      .join(broadcast(sk), "source")
      .select(col("source"), col("c"), col("n_grams"),
        element_at(col("mg.items"), col("g")).as("est"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_heavy"),
        bool_and(col("est").isNotNull).as("all_heavy_found"),
        bool_and(col("est").isNotNull && col("est") <= col("c") &&
          (col("c") - col("est")) * (FreqK + 1) <= col("n_grams"))
          .as("under_bound_ok"))
    tot.join(broadcast(sk), "source")
      .join(flags, Seq("source"), "left")
      .select(col("source"), col("n_grams"),
        (col("mg.n") === col("n_grams")).as("sketch_n_ok"),
        coalesce(col("n_heavy"), lit(0L)).as("n_heavy"),
        coalesce(col("all_heavy_found"), lit(true)).as("all_heavy_found"),
        coalesce(col("under_bound_ok"), lit(true)).as("under_bound_ok"))
  }

  /** ONE audit body for q_sketch_hll AND q_stream_hll (the
    * [[freqAudit]] pattern): join per-source sketch `estimates`
    * (source, est) against the exact distinct over `docs` and flag
    * the 5% contract — batch and stream share the flag ARITHMETIC as
    * well as the oracle, so retuning the contract cannot fork them
    * silently (the oracle's TRUE column only checks that the flag
    * holds, not which threshold produced it). */
  private[operators] def hllAudit(
      estimates: DataFrame, docs: DataFrame): DataFrame =
    docs.groupBy(col("source"))
      .agg(countDistinct(md5(col("text").cast("binary"))).as("n_exact"))
      .join(estimates, "source")
      .select(col("source"), col("n_exact"),
        (abs(col("est") - col("n_exact")) * 20 <= col("n_exact"))
          .as("hll_within_5pct"))

  /** ONE oracle for q_sketch_hll AND q_stream_hll: the accuracy
    * contract both the batch sketch and the stream-maintained sketch
    * must meet — an estimate drifting past 5% flips the flag and
    * fails the hash gate. A `def`, not a `val`: it is referenced from
    * `all` ABOVE this point, and a val would still be null there
    * (object init order). */
  private[operators] def hllAuditSql: String =
    """SELECT source,
      |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_exact,
      |       TRUE AS hll_within_5pct
      |FROM documents GROUP BY source""".stripMargin

  /** ONE oracle for q_session_window AND q_stream_session_window —
    * the lag/sum replica of Spark's native session_window merge rule
    * (split when the gap is >= 30 min; window.end = last_ts + gap). */
  private[operators] def sessionWindowSql: String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
       |g AS (SELECT user_id, us, event_id,
       |             CASE WHEN lag(us) OVER w IS NULL
       |                    OR us - lag(us) OVER w >= ${graft.streaming.EventStreams.SessionGapUs}
       |                  THEN 1 ELSE 0 END AS brk
       |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |f AS (SELECT user_id, us,
       |             CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                                 ROWS UNBOUNDED PRECEDING) AS INTEGER) AS sid
       |      FROM g)
       |SELECT user_id, min(us) AS session_start_us,
       |       max(us) + ${graft.streaming.EventStreams.SessionGapUs} AS session_end_us,
       |       count(*) AS n_events
       |FROM f GROUP BY user_id, sid""".stripMargin

  /** The native session_window aggregation both gates run — batch
    * directly, streaming under watermark+append (the expression is
    * identical; that's the point of the declarative form). */
  private[operators] def sessionWindowAgg(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    sessionWindowAggOnTime(
      ev.withColumn("event_time", timestamp_micros(col("ts_us"))))

  /** The session_window body over an `event_time` timestamp column —
    * shared so the streaming gate can watermark THAT column first
    * (append mode requires the aggregated time column to carry the
    * watermark). */
  private[operators] def sessionWindowAggOnTime(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ev.groupBy(col("user_id"),
      session_window(col("event_time"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"),
        col("n_events"))
}
