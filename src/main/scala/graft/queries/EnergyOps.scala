package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Tables

/** Energy-analytics operators, part 2: the load-duration curve (the
  * canonical energy-planning summary of any demand/generation series)
  * and piecewise-linear turbine power-curve mapping — the
  * `windmodel.py` shape: the reference crawls measured power curves
  * from wind-turbine-models.com (`windmodel.py:47-77`) and
  * interpolates them onto wind speeds (`windmodel.py:27-28`, scipy
  * interpolation with negative values nulled). Both oracle-checked.
  */
object EnergyOps {

  /** Integer-valued synthetic power curve (kW at integer m/s): cut-in
    * 3 m/s, partial-load ramps, rated 3000 kW at 13 m/s, cut-out past
    * 25 m/s. Breakpoints AND their powers are integers, so the per-bin
    * segment endpoints are exact in both engines and the only
    * floating-point work is the final mirrored interpolation. ONE copy
    * of the curve feeds both the Spark plan and the DuckDB oracle. */
  private def powerAt(v: String): String =
    s"""CASE WHEN $v <= 3 THEN 0.0 WHEN $v = 4 THEN 100.0
       WHEN $v = 5 THEN 200.0 WHEN $v = 6 THEN 450.0
       WHEN $v = 7 THEN 700.0 WHEN $v = 8 THEN 950.0
       WHEN $v = 9 THEN 1200.0 WHEN $v = 10 THEN 1650.0
       WHEN $v = 11 THEN 2100.0 WHEN $v = 12 THEN 2550.0
       WHEN $v <= 25 THEN 3000.0 ELSE 0.0 END"""

  val qs: Seq[Q] = Seq(

    // Load-duration curve — demand values reordered descending and
    // plotted against the fraction of time they are exceeded; THE
    // capacity-planning view of any load/generation series (how many
    // hours a year is demand above X?). Reported at 5 % duration
    // steps so output is 20 rows per series regardless of input size.
    // Exact-rank selection (q52's machinery generalized to 20
    // quantile points): one per-series sort window — partition-local
    // after the shuffle on the series key; rank arithmetic is pure
    // integer ((n·j+19) div 20 = ceil), so engines can't disagree. A
    // row satisfying several duration points (tiny series) emits one
    // row per matched point, exactly like the oracle's cross join.
    // For series too hot for a full sort window, q145's binned
    // sketch is the documented approximate scale path.
    Q("q173_load_duration",
      (s, dir) => {
        val wOrd = Window.partitionBy("event_type")
          .orderBy(col("value").desc, col("event_id"))
        val wAll = Window.partitionBy("event_type")
        Tables.load(s, dir, "events")
          .withColumn("rn", row_number().over(wOrd).cast(LongType))
          .withColumn("n", count(lit(1)).over(wAll))
          // js: the duration points whose exact rank is THIS row
          .withColumn("j", explode(expr(
            "filter(sequence(1, 20), j -> (n * j + 19) div 20 = rn)")))
          .select(col("event_type"),
            (col("j") * 5).cast(LongType).as("duration_pct"),
            col("value").as("load_value"))
          .orderBy("event_type", "duration_pct")
      },
      Some("""WITH ranked AS (
          SELECT event_type, value,
            row_number() OVER (PARTITION BY event_type
              ORDER BY value DESC, event_id) AS rn,
            count(*) OVER (PARTITION BY event_type) AS n
          FROM events)
        SELECT event_type, CAST(5 * j AS BIGINT) AS duration_pct,
          value AS load_value
        FROM ranked, UNNEST(range(1, 21)) AS t(j)
        WHERE rn = (n * j + 19) // 20
        ORDER BY event_type, duration_pct""")),

    // Piecewise-linear power-curve mapping (windmodel.py:27-28,61-77):
    // wind speeds map to turbine output through a broadcast segment
    // table. The curve's integer breakpoints make every integer bin a
    // single linear segment, so the lookup is an EQUI-join on
    // floor(speed) against a 31-row broadcast — never a range join
    // (the q99 binned-range-join principle; a non-equi join against
    // even a tiny broadcast plans as a nested-loop scan per row).
    // Interpolation is p0 + (p1−p0)·(v−bin) — segment width is exactly
    // 1, so there is no division — a fixed double-op sequence both
    // engines execute identically; per-plant totals accumulate in
    // DECIMAL(38,12) (order-free) and surface as DOUBLE.
    Q("q175_power_curve",
      (s, dir) => {
        val curve = s.range(0, 31).select(
          col("id").as("b"),
          expr(powerAt("id")).as("p0"),
          expr(powerAt("id + 1")).as("p1"))
        Tables.load(s, dir, "events")
          .withColumn("wind", expr("least(value / 16.0, 30.0)"))
          .withColumn("b", floor(col("wind")).cast(LongType))
          .join(broadcast(curve), "b")
          .withColumn("p",
            col("p0") + (col("p1") - col("p0")) * (col("wind") - col("b")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_obs"),
            sum(col("p").cast("decimal(38,12)")).cast(DoubleType)
              .as("total_kw"),
            max(col("p")).as("peak_kw"))
          .orderBy("event_type")
      },
      Some(s"""WITH curve AS (
          SELECT b, ${powerAt("b")} AS p0, ${powerAt("b + 1")} AS p1
          FROM (SELECT CAST(j AS BIGINT) AS b
            FROM UNNEST(range(0, 31)) AS t(j))),
        w AS (SELECT event_type,
            least(value / 16.0, 30.0) AS wind,
            CAST(floor(least(value / 16.0, 30.0)) AS BIGINT) AS b
          FROM events),
        p AS (SELECT event_type,
            p0 + (p1 - p0) * (wind - b) AS p
          FROM w JOIN curve USING (b))
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_obs,
          CAST(sum(CAST(p AS DECIMAL(38,12))) AS DOUBLE) AS total_kw,
          max(p) AS peak_kw
        FROM p GROUP BY event_type ORDER BY event_type""")),

    // Standard-load-profile day-type decomposition — the German SLP
    // convention the reference's load datasets are built around
    // (vea_industrial_load_profiles.py: 5359 quarterhourly industrial
    // profiles with high-load-time flags; e2watch building loads):
    // every timestamp classifies as workday / saturday /
    // sunday-or-holiday, and the profile is the mean per (series,
    // day type, hour of day). One map-side-combinable hash aggregate
    // over derived keys — the fact table is scanned once, output is
    // |series|·3·24 regardless of input size. The holiday dimension
    // is a compile-time literal set (holiday calendars are tiny and
    // static); means use the decimal-sum/count contract (ExactAgg) so
    // both engines divide identical operands. Day-of-week constants
    // differ by engine (Spark dayofweek: Sun=1/Sat=7; DuckDB: Sun=0/
    // Sat=6) — each side tests its own encoding of the same day. The
    // oracle spells the holiday test as OR'd equalities: DuckDB 1.0's
    // scan pushdown mis-evaluates `CAST(ts AS DATE) IN (DATE…, DATE…)`
    // over parquet to zero rows (measured), while plain `=` is fine.
    Q("q176_day_type_profile",
      (s, dir) => {
        val holidays = Seq("2024-01-01", "2024-01-06") // New Year, Epiphany
        val dayType =
          when(to_date(col("ts")).isin(holidays: _*) ||
              dayofweek(col("ts")) === 1, "sunday_holiday")
            .when(dayofweek(col("ts")) === 7, "saturday")
            .otherwise("workday")
        Tables.load(s, dir, "events")
          .withColumn("day_type", dayType)
          .withColumn("hr", hour(col("ts")).cast(LongType))
          .groupBy("event_type", "day_type", "hr")
          .agg(count(lit(1)).as("n_obs"),
            graft.functions.ExactAgg.davg(col("value")).as("mean_value"))
          .orderBy("event_type", "day_type", "hr")
      },
      Some(s"""SELECT event_type,
          CASE WHEN CAST(ts AS DATE) = DATE '2024-01-01'
              OR CAST(ts AS DATE) = DATE '2024-01-06'
              OR dayofweek(ts) = 0 THEN 'sunday_holiday'
            WHEN dayofweek(ts) = 6 THEN 'saturday'
            ELSE 'workday' END AS day_type,
          CAST(hour(ts) AS BIGINT) AS hr,
          CAST(count(*) AS BIGINT) AS n_obs,
          ${graft.functions.ExactAgg.sqlAvg("value")} AS mean_value
        FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // OHLC resampling — the canonical price-series downsample
    // (eex.py's eex_prices shape: spot/futures ticks → bucketed
    // open/high/low/close bars). Open and close are ARG-min/max over
    // (ts, event_id): a lexicographic struct-min inside ONE hash
    // aggregate — map-side combinable, no per-bucket sort window, so
    // a year of tick data rolls up in a single shuffle of |buckets|
    // partial states. The (ts, event_id) tie-break makes the answer
    // deterministic under any partitioning; the oracle's row_number
    // formulation picks the identical row.
    Q("q177_ohlc_resample",
      (s, dir) => {
        Tables.load(s, dir, "events")
          .withColumn("bucket", date_trunc("hour", col("ts")))
          .groupBy("event_type", "bucket")
          .agg(
            min(struct(col("ts"), col("event_id"), col("value")))
              .getField("value").as("open"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            max(struct(col("ts"), col("event_id"), col("value")))
              .getField("value").as("close"),
            count(lit(1)).as("n_ticks"))
          .orderBy("event_type", "bucket")
      },
      Some("""WITH e AS (SELECT event_type,
            date_trunc('hour', ts) AS bucket, ts, event_id, value
          FROM events),
        o AS (SELECT *,
            row_number() OVER (PARTITION BY event_type, bucket
              ORDER BY ts, event_id) AS rn_a,
            row_number() OVER (PARTITION BY event_type, bucket
              ORDER BY ts DESC, event_id DESC) AS rn_z
          FROM e)
        SELECT event_type, bucket,
          max(CASE WHEN rn_a = 1 THEN value END) AS open,
          max(value) AS high, min(value) AS low,
          max(CASE WHEN rn_z = 1 THEN value END) AS close,
          CAST(count(*) AS BIGINT) AS n_ticks
        FROM o GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Standard-load-profile gap imputation — how utilities fill
    // missing meter hours: the complete hourly grid per series is
    // left-joined with the observed hourly means, and every missing
    // hour takes the series' (day-type, hour) profile mean computed
    // from the hours that DO exist (q37's gap-fill grid × q176's
    // profile). Everything is hash aggregates and keyed equi-joins:
    // the grid is |series|·|hours| (never fact-sized), the profile is
    // |series|·3·24 (broadcastable at any corpus size), and both mean
    // families use the decimal-sum/count contract so actual AND
    // imputed values hash-match cross-engine.
    Q("q182_slp_imputation",
      (s, dir) => {
        val holidays = Seq("2024-01-01", "2024-01-06")
        def dayTypeOf(c: org.apache.spark.sql.Column) =
          when(to_date(c).isin(holidays: _*) || dayofweek(c) === 1,
            "sunday_holiday")
            .when(dayofweek(c) === 7, "saturday")
            .otherwise("workday")
        val ev = Tables.load(s, dir, "events")
          .withColumn("bucket", date_trunc("hour", col("ts")))
        val hourly = ev.groupBy("event_type", "bucket")
          .agg(graft.functions.ExactAgg.davg(col("value")).as("actual"))
        val profile = ev
          .withColumn("day_type", dayTypeOf(col("bucket")))
          .withColumn("hr", hour(col("bucket")))
          .groupBy("event_type", "day_type", "hr")
          .agg(graft.functions.ExactAgg.davg(col("value"))
            .as("profile_mean"))
        val grid = hourly.groupBy("event_type")
          .agg(min(col("bucket")).as("mn"), max(col("bucket")).as("mx"))
          .select(col("event_type"),
            explode(sequence(col("mn"), col("mx"),
              expr("interval 1 hour"))).as("bucket"))
        grid.join(hourly, Seq("event_type", "bucket"), "left")
          .withColumn("day_type", dayTypeOf(col("bucket")))
          .withColumn("hr", hour(col("bucket")))
          .join(broadcast(profile), Seq("event_type", "day_type", "hr"),
            "left")
          .select(col("event_type"), col("bucket"),
            coalesce(col("actual"), col("profile_mean")).as("value"),
            col("actual").isNull.as("is_imputed"))
          .orderBy("event_type", "bucket")
      },
      Some(s"""WITH ev AS (SELECT event_type,
            date_trunc('hour', ts) AS bucket, value FROM events),
        hourly AS (SELECT event_type, bucket,
            ${graft.functions.ExactAgg.sqlAvg("value")} AS actual
          FROM ev GROUP BY 1, 2),
        profile AS (SELECT event_type,
            CASE WHEN CAST(bucket AS DATE) = DATE '2024-01-01'
                OR CAST(bucket AS DATE) = DATE '2024-01-06'
                OR dayofweek(bucket) = 0 THEN 'sunday_holiday'
              WHEN dayofweek(bucket) = 6 THEN 'saturday'
              ELSE 'workday' END AS day_type,
            hour(bucket) AS hr,
            ${graft.functions.ExactAgg.sqlAvg("value")} AS profile_mean
          FROM ev GROUP BY 1, 2, 3),
        bounds AS (SELECT event_type, min(bucket) AS mn, max(bucket) AS mx
          FROM hourly GROUP BY 1),
        grid AS (SELECT event_type,
            unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
          FROM bounds),
        j AS (SELECT g.event_type, g.bucket, h.actual,
            CASE WHEN CAST(g.bucket AS DATE) = DATE '2024-01-01'
                OR CAST(g.bucket AS DATE) = DATE '2024-01-06'
                OR dayofweek(g.bucket) = 0 THEN 'sunday_holiday'
              WHEN dayofweek(g.bucket) = 6 THEN 'saturday'
              ELSE 'workday' END AS day_type,
            hour(g.bucket) AS hr
          FROM grid g LEFT JOIN hourly h
            ON g.event_type = h.event_type AND g.bucket = h.bucket)
        SELECT j.event_type, j.bucket,
          coalesce(j.actual, p.profile_mean) AS value,
          j.actual IS NULL AS is_imputed
        FROM j LEFT JOIN profile p
          ON j.event_type = p.event_type AND j.day_type = p.day_type
            AND j.hr = p.hr
        ORDER BY j.event_type, j.bucket""")),

    // Ramp-rate analysis — the grid-operations metric behind reserve
    // sizing: per series per day, the steepest hour-to-hour upward
    // and downward changes of the hourly mean. One hash aggregate to
    // hourly means (decimal-exact), one partition-local lag window
    // per series (state bounded by |hours per series|, never fact
    // rows), one hash aggregate to days. The ramp is a subtraction of
    // two oracle-exact doubles — bit-identical cross-engine. The
    // first hour of a day ramps against the previous day's last hour
    // (attributed to the later day, mirrored in the oracle).
    Q("q187_ramp_rates",
      (s, dir) => {
        val hourly = Tables.load(s, dir, "events")
          .withColumn("bucket", date_trunc("hour", col("ts")))
          .groupBy("event_type", "bucket")
          .agg(graft.functions.ExactAgg.davg(col("value")).as("actual"))
        val w = Window.partitionBy("event_type").orderBy("bucket")
        hourly
          .withColumn("ramp", col("actual") - lag(col("actual"), 1).over(w))
          .filter(col("ramp").isNotNull)
          .groupBy(col("event_type"),
            date_format(col("bucket"), "yyyy-MM-dd").as("day"))
          .agg(max(col("ramp")).as("max_up_ramp"),
            min(col("ramp")).as("max_down_ramp"),
            count(lit(1)).as("n_ramps"))
          .orderBy("event_type", "day")
      },
      Some(s"""WITH hourly AS (SELECT event_type,
            date_trunc('hour', ts) AS bucket,
            ${graft.functions.ExactAgg.sqlAvg("value")} AS actual
          FROM events GROUP BY 1, 2),
        d AS (SELECT event_type, bucket,
            actual - lag(actual) OVER (PARTITION BY event_type
              ORDER BY bucket) AS ramp
          FROM hourly)
        SELECT event_type, strftime(bucket, '%Y-%m-%d') AS day,
          max(ramp) AS max_up_ramp, min(ramp) AS max_down_ramp,
          CAST(count(*) AS BIGINT) AS n_ramps
        FROM d WHERE ramp IS NOT NULL
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Incident-window detection — the alerting primitive: hours whose
    // mean load exceeds 1.5× the series' overall hourly mean, MERGED
    // into maximal consecutive runs (the gaps-and-islands technique
    // of q174 applied to the time axis), reported as incidents with
    // start/end/duration/peak — |incidents| output rows, not
    // |breaches|. The threshold compare and the 3600 s adjacency test
    // are mirrored double/integer ops on oracle-exact hourly means;
    // the per-series islands window is partition-local, state bounded
    // by |hours per series|.
    Q("q195_incident_windows",
      (s, dir) => {
        val hourly = Tables.load(s, dir, "events")
          .withColumn("bucket", date_trunc("hour", col("ts")))
          .groupBy("event_type", "bucket")
          .agg(graft.functions.ExactAgg.davg(col("value")).as("actual"))
        val overall = hourly.groupBy("event_type")
          .agg(graft.functions.ExactAgg.davg(col("actual"), scale = 12)
            .as("avg_all"))
        val flagged = hourly
          .join(broadcast(overall), "event_type")
          .filter(col("actual") > col("avg_all") * 1.5)
        val w = Window.partitionBy("event_type").orderBy("bucket")
        flagged
          .withColumn("gap_s",
            unix_timestamp(col("bucket")) -
              unix_timestamp(lag(col("bucket"), 1).over(w)))
          .withColumn("brk",
            when(col("gap_s") === 3600L, 0L).otherwise(1L))
          .withColumn("incident", sum(col("brk")).over(w))
          .groupBy("event_type", "incident")
          .agg(min(col("bucket")).as("incident_start"),
            max(col("bucket")).as("incident_end"),
            count(lit(1)).as("n_hours"),
            max(col("actual")).as("peak_load"))
          .select("event_type", "incident_start", "incident_end",
            "n_hours", "peak_load")
          .orderBy("event_type", "incident_start")
      },
      Some(s"""WITH hourly AS (SELECT event_type,
            date_trunc('hour', ts) AS bucket,
            ${graft.functions.ExactAgg.sqlAvg("value")} AS actual
          FROM events GROUP BY 1, 2),
        overall AS (SELECT event_type,
            ${graft.functions.ExactAgg.sqlAvg("actual", 12)} AS avg_all
          FROM hourly GROUP BY 1),
        flagged AS (SELECT h.event_type, h.bucket, h.actual
          FROM hourly h JOIN overall o ON h.event_type = o.event_type
          WHERE h.actual > o.avg_all * 1.5),
        d AS (SELECT event_type, bucket, actual,
            CASE WHEN CAST(floor(epoch(bucket)) AS BIGINT)
                - CAST(floor(epoch(lag(bucket) OVER w)) AS BIGINT)
                = 3600
              THEN 0 ELSE 1 END AS brk
          FROM flagged
          WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
        isl AS (SELECT event_type, bucket, actual,
            sum(brk) OVER (PARTITION BY event_type ORDER BY bucket)
              AS incident
          FROM d)
        SELECT event_type, min(bucket) AS incident_start,
          max(bucket) AS incident_end,
          CAST(count(*) AS BIGINT) AS n_hours,
          max(actual) AS peak_load
        FROM isl GROUP BY event_type, incident
        ORDER BY event_type, incident_start""")),

    // Capacity / load factor — the first KPI of any generation or
    // demand series: mean as a share of peak. One map-side-combinable
    // aggregate; energy accumulates in decimal (order-free), the
    // factor is a fixed double-op sequence on identical operands.
    Q("q197_capacity_factor",
      (s, dir) => {
        Tables.load(s, dir, "events")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_obs"),
            max(col("value")).as("peak"),
            graft.functions.ExactAgg.dsum(col("value")).as("energy"))
          .withColumn("capacity_factor",
            col("energy") / (col("peak") * col("n_obs").cast(DoubleType)))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_obs,
          max(value) AS peak,
          ${graft.functions.ExactAgg.sqlSum("value")} AS energy,
          ${graft.functions.ExactAgg.sqlSum("value")}
            / (max(value) * CAST(count(*) AS DOUBLE)) AS capacity_factor
        FROM events GROUP BY 1 ORDER BY 1""")),

    // Data-freshness report — the ingest-operations dashboard metric
    // (the reference's metadata catalog tracks temporal extent per
    // schema, base_crawler.py stats refresh): per series, the last
    // observed timestamp, its whole-second lag behind the NEWEST
    // timestamp anywhere, and a staleness flag. Per-series maxima are
    // one aggregate; the global max is a 1-row broadcast (q137's
    // shape) — the fact table is scanned once.
    Q("q198_freshness",
      (s, dir) => {
        val perSeries = Tables.load(s, dir, "events")
          .groupBy("event_type").agg(max(col("ts")).as("last_ts"))
        val global = perSeries
          .agg(max(col("last_ts")).as("newest_ts"))
        perSeries.crossJoin(broadcast(global))
          .withColumn("lag_s",
            unix_timestamp(col("newest_ts")) -
              unix_timestamp(col("last_ts")))
          .withColumn("is_stale", col("lag_s") > 3600L)
          .select("event_type", "last_ts", "lag_s", "is_stale")
          .orderBy("event_type")
      },
      Some("""WITH p AS (SELECT event_type, max(ts) AS last_ts
          FROM events GROUP BY 1),
        g AS (SELECT max(last_ts) AS newest_ts FROM p)
        SELECT event_type, last_ts,
          CAST(floor(epoch(newest_ts)) AS BIGINT)
            - CAST(floor(epoch(last_ts)) AS BIGINT) AS lag_s,
          (CAST(floor(epoch(newest_ts)) AS BIGINT)
            - CAST(floor(epoch(last_ts)) AS BIGINT)) > 3600 AS is_stale
        FROM p, g ORDER BY event_type""")),

    // Weekly seasonality index — classical load decomposition: each
    // weekday's mean as a ratio to the series' overall mean (index
    // 1.0 = flat week). Both means come from ONE pass over the fact
    // table (the per-weekday decimal sums/counts REAGGREGATE into the
    // overall mean — no second scan); the index is one double
    // division of oracle-exact means. Day-of-week constants are
    // engine-local as in q176 (Spark Sun=1, DuckDB Sun=0 — both
    // remapped to ISO Mon=1..Sun=7 so the OUTPUT encoding matches).
    Q("q199_seasonality_index",
      (s, dir) => {
        val byDow = Tables.load(s, dir, "events")
          // Spark dayofweek: Sun=1..Sat=7 → ISO Mon=1..Sun=7
          .withColumn("dow",
            ((dayofweek(col("ts")) + 5) % 7 + 1).cast(LongType))
          .groupBy("event_type", "dow")
          .agg(sum(col("value").cast("decimal(28,2)")).as("dsum"),
            count(lit(1)).as("n"))
        val overall = byDow.groupBy("event_type")
          .agg((sum(col("dsum")).cast(DoubleType) /
            sum(col("n")).cast(DoubleType)).as("mean_all"))
        byDow.join(broadcast(overall), "event_type")
          .select(col("event_type"), col("dow"), col("n"),
            (col("dsum").cast(DoubleType) / col("n").cast(DoubleType))
              .as("mean_dow"),
            ((col("dsum").cast(DoubleType) / col("n").cast(DoubleType)) /
              col("mean_all")).as("seasonality_index"))
          .orderBy("event_type", "dow")
      },
      Some("""WITH d AS (SELECT event_type,
            CAST((dayofweek(ts) + 6) % 7 + 1 AS BIGINT) AS dow,
            sum(CAST(value AS DECIMAL(28,2))) AS dsum,
            count(*) AS n
          FROM events GROUP BY 1, 2),
        o AS (SELECT event_type,
            CAST(sum(dsum) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
              AS mean_all
          FROM d GROUP BY 1)
        SELECT d.event_type, d.dow, CAST(d.n AS BIGINT) AS n,
          CAST(d.dsum AS DOUBLE) / CAST(d.n AS DOUBLE) AS mean_dow,
          (CAST(d.dsum AS DOUBLE) / CAST(d.n AS DOUBLE)) / o.mean_all
            AS seasonality_index
        FROM d JOIN o ON d.event_type = o.event_type
        ORDER BY d.event_type, d.dow""")),

    // Seasonal-naive forecast skill — the MASE-style baseline every
    // load forecaster is graded against: predict each hour by the
    // same hour 24h earlier; compare against the 1h-naive (predict by
    // the previous hour). Hourly totals aggregate ONCE (decimal-
    // exact); both lag comparisons are keyed self-joins on the
    // (event_type, bucket−Δ) grid — gap-proof (a missing hour simply
    // produces no pair, unlike a row-offset lag) and shuffle-shaped
    // like any equi-join. The skill ratio <1 means daily seasonality
    // beats persistence. All arithmetic is decimal until the final
    // divisions.
    Q("q209_seasonal_naive_error",
      (s, dir) => {
        val hourly = Tables.load(s, dir, "events")
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("bucket"))
          .agg(sum(col("value").cast("decimal(28,2)")).as("total"))
          // one aggregate feeds three self-join arms
          .persist()
        def lagJoin(hours: Int): org.apache.spark.sql.DataFrame =
          hourly.as("cur").join(hourly.as("prev"),
              col("cur.event_type") === col("prev.event_type") &&
                col("cur.bucket") ===
                  col("prev.bucket") + expr(s"INTERVAL $hours HOURS"))
            .select(col("cur.event_type").as("event_type"),
              abs(col("cur.total") - col("prev.total")).as("abs_err"))
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"), sum(col("abs_err")).as("sae"))
        lagJoin(24).as("d").join(lagJoin(1).as("h"), Seq("event_type"))
          .select(col("event_type"),
            col("d.n").as("n_24h"),
            (col("d.sae").cast(DoubleType) /
              col("d.n").cast(DoubleType)).as("mae_24h"),
            col("h.n").as("n_1h"),
            (col("h.sae").cast(DoubleType) /
              col("h.n").cast(DoubleType)).as("mae_1h"))
          .withColumn("skill_ratio", col("mae_24h") / col("mae_1h"))
          .orderBy("event_type")
      },
      Some("""WITH hourly AS (SELECT event_type,
            date_trunc('hour', ts) AS bucket,
            sum(CAST(value AS DECIMAL(28,2))) AS total
          FROM events GROUP BY 1, 2),
        d AS (SELECT c.event_type, count(*) AS n,
            sum(abs(c.total - p.total)) AS sae
          FROM hourly c JOIN hourly p
            ON c.event_type = p.event_type
              AND c.bucket = p.bucket + INTERVAL 24 HOURS
          GROUP BY 1),
        h AS (SELECT c.event_type, count(*) AS n,
            sum(abs(c.total - p.total)) AS sae
          FROM hourly c JOIN hourly p
            ON c.event_type = p.event_type
              AND c.bucket = p.bucket + INTERVAL 1 HOUR
          GROUP BY 1)
        SELECT d.event_type, CAST(d.n AS BIGINT) AS n_24h,
          CAST(d.sae AS DOUBLE) / CAST(d.n AS DOUBLE) AS mae_24h,
          CAST(h.n AS BIGINT) AS n_1h,
          CAST(h.sae AS DOUBLE) / CAST(h.n AS DOUBLE) AS mae_1h,
          (CAST(d.sae AS DOUBLE) / CAST(d.n AS DOUBLE))
            / (CAST(h.sae AS DOUBLE) / CAST(h.n AS DOUBLE))
            AS skill_ratio
        FROM d JOIN h ON d.event_type = h.event_type
        ORDER BY d.event_type"""))
  )
}
