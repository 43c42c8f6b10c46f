package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{Sql, Tables}

/** Second-wave relational/analytic coverage: semi/anti joins, SQL
  * subqueries, array aggregation, regex extraction, unpivot, grouped
  * exact percentiles, the full ranking-window suite, conditional /
  * argmax aggregates, and CUBE grouping sets. Every query follows the
  * engine-wide oracle contracts (CLAUDE.md): identical column aliases
  * on both sides, integer aggregates emitted as int64 on both sides
  * (DuckDB integer sums are HUGEINT → float64 via pandas), doubles
  * produced by arithmetic rounded identically on both sides.
  */
object AnalyticQueries {

  /** Left-semi + left-anti joins (existence checks), counted per market
    * segment. Scale: a semi/anti join ships only the join key of the
    * probe side and short-circuits on first match — at 100 TB this is
    * a key-only shuffle, never a row-multiplying join; the aggregate
    * collapses map-side.
    */
  val q27SemiAnti = Q(
    "q27_semi_anti",
    (s, dir) => {
      import s.implicits._
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).select($"o_custkey")
      def side(kind: String, how: String) =
        c.join(o, $"c_custkey" === $"o_custkey", how)
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_cust"))
          .select(lit(kind).as("kind"), $"c_mktsegment", $"n_cust")
      side("with_orders", "left_semi").unionByName(side("no_orders", "left_anti"))
    },
    Some("""SELECT 'with_orders' AS kind, c_mktsegment, count(*) AS n_cust
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      GROUP BY c_mktsegment
      UNION ALL
      SELECT 'no_orders' AS kind, c_mktsegment, count(*) AS n_cust
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      GROUP BY c_mktsegment"""))

  /** SQL surface with a scalar subquery + IN subquery (SURVEY.md §2.1
    * S6): Catalyst plans the scalar subquery as a one-row broadcast and
    * the IN as a left-semi join — no driver-side values involved.
    */
  val q28Subqueries = Q(
    "q28_subqueries",
    (s, dir) =>
      Sql.sql(s, dir, """
        SELECT o_orderpriority, count(*) AS n_big
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
          AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        GROUP BY o_orderpriority"""),
    Some("""SELECT o_orderpriority, count(*) AS n_big
      FROM orders
      WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      GROUP BY o_orderpriority"""))

  /** Array aggregation: per-group sorted distinct set (collect_set →
    * sort_array). Scale: collect_set is safe only when per-group
    * cardinality is bounded (here: order statuses); the partial
    * aggregate dedups map-side so the shuffle carries sets, not rows.
    * The set is emitted as a '|'-joined string so the result is
    * engine-portable (the driver's pandas compare can't sort arrays).
    */
  val q29ArrayAgg = Q(
    "q29_array_agg",
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .groupBy($"o_orderpriority")
        .agg(
          array_join(sort_array(collect_set($"o_orderstatus")), "|").as("statuses"),
          countDistinct($"o_orderstatus").as("n_status"))
    },
    Some("""SELECT o_orderpriority,
        array_to_string(list_sort(list(DISTINCT o_orderstatus)), '|') AS statuses,
        count(DISTINCT o_orderstatus) AS n_status
      FROM orders GROUP BY o_orderpriority"""))

  /** Regex extraction + match predicate over document text. The pattern
    * set is restricted to the RE2 ∩ java.util.regex common dialect
    * (no backrefs/lookahead); both engines return '' for a no-match
    * extract. Single projection pass, pushdown-friendly.
    */
  val q30Regex = Q(
    "q30_regex",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir).select(
        $"doc_id",
        regexp_extract($"text", "([A-Za-z]+)", 1).as("first_word"),
        $"text".rlike("[0-9]").as("has_digit"),
        length(regexp_replace($"text", "[^0-9]", "")).cast("long").as("n_digit_chars"))
    },
    Some("""SELECT doc_id,
        regexp_extract(text, '([A-Za-z]+)', 1) AS first_word,
        regexp_matches(text, '[0-9]') AS has_digit,
        CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit_chars
      FROM documents"""))

  /** Unpivot (wide metrics → long): compute a per-flag metric row, then
    * melt to (metric, value). Spark's native `unpivot` keeps this a
    * zero-shuffle reshape of the already-aggregated (tiny) frame.
    */
  val q31Unpivot = Q(
    "q31_unpivot",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(
          round(sum($"l_quantity"), 2).as("qty"),
          round(sum($"l_extendedprice"), 2).as("price"),
          round(avg($"l_discount"), 6).as("disc"))
        .unpivot(Array($"l_returnflag"), Array($"qty", $"price", $"disc"), "metric", "value")
    },
    Some("""WITH wide AS (
        SELECT l_returnflag,
          round(sum(l_quantity),2) AS qty,
          round(sum(l_extendedprice),2) AS price,
          round(avg(l_discount),6) AS disc
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, 'qty' AS metric, qty AS value FROM wide
      UNION ALL SELECT l_returnflag, 'price' AS metric, price AS value FROM wide
      UNION ALL SELECT l_returnflag, 'disc' AS metric, disc AS value FROM wide"""))

  /** Grouped exact median + p90 (interpolating, SQL-standard — DuckDB
    * quantile_cont semantics). Safe at scale here because l_quantity
    * has a small distinct domain: the exact percentile's per-partition
    * value→count map is O(distinct values), unlike q13's
    * mostly-distinct doubles which use graft.functions.Quantiles.
    */
  val q32Median = Q(
    "q32_median",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(
          round(median($"l_quantity"), 4).as("med_qty"),
          round(expr("percentile(l_quantity, 0.9D)"), 4).as("p90_qty"),
          count(lit(1)).as("n"))
    },
    Some("""SELECT l_returnflag,
        round(median(l_quantity),4) AS med_qty,
        round(quantile_cont(l_quantity, 0.9),4) AS p90_qty,
        count(*) AS n
      FROM lineitem GROUP BY l_returnflag"""))

  /** Ranking-window suite: lag/lead + ntile + percent_rank + cume_dist
    * in ONE window spec — Catalyst evaluates all five functions in a
    * single Window operator (one shuffle on the partition key, one
    * sort). The (date, key) ordering is unique, so every function is
    * deterministic; percent_rank/cume_dist are exact rationals —
    * identical doubles on both engines.
    */
  val q33WindowSuite = Q(
    "q33_window_suite",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      Tables.orders(s, dir)
        .filter($"o_custkey" < 200)
        .select(
          $"o_custkey", $"o_orderkey",
          lag($"o_totalprice", 1).over(w).as("prev_price"),
          lead($"o_totalprice", 1).over(w).as("next_price"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 9).as("pct_rank"),
          round(cume_dist().over(w), 9).as("cume"))
    },
    Some("""SELECT o_custkey, o_orderkey,
        lag(o_totalprice, 1) OVER w AS prev_price,
        lead(o_totalprice, 1) OVER w AS next_price,
        ntile(4) OVER w AS quartile,
        round(percent_rank() OVER w, 9) AS pct_rank,
        round(cume_dist() OVER w, 9) AS cume
      FROM orders WHERE o_custkey < 200
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)"""),
    headline = true)

  /** Conditional + argmax aggregates: count_if, bool_and/bool_or,
    * max_by/min_by. The argmax key is (acctbal, custkey) packed into
    * one double — acctbal has 2 decimals so the 1e9 multiplier leaves
    * a 1e7 gap between distinct balances, far above any custkey; both
    * engines order the identical doubles identically, making ties
    * impossible. All still one partial→final hash aggregate.
    */
  val q34ArgmaxAgg = Q(
    "q34_argmax_agg",
    (s, dir) => {
      import s.implicits._
      val key = $"c_acctbal" * lit(1000000000.0) + $"c_custkey"
      Tables.customer(s, dir)
        .groupBy($"c_nationkey")
        .agg(
          count_if($"c_acctbal" < 0).as("n_negative"),
          bool_or($"c_acctbal" < 0).as("any_negative"),
          bool_and($"c_acctbal" > -1000).as("all_above_floor"),
          max_by($"c_name", key).as("richest"),
          min_by($"c_name", key).as("poorest"),
          round(avg($"c_acctbal"), 4).as("avg_bal"))
    },
    Some("""SELECT c_nationkey,
        CAST(count_if(c_acctbal < 0) AS BIGINT) AS n_negative,
        bool_or(c_acctbal < 0) AS any_negative,
        bool_and(c_acctbal > -1000) AS all_above_floor,
        arg_max(c_name, c_acctbal * 1000000000.0 + c_custkey) AS richest,
        arg_min(c_name, c_acctbal * 1000000000.0 + c_custkey) AS poorest,
        round(avg(c_acctbal),4) AS avg_bal
      FROM customer GROUP BY c_nationkey"""))

  /** CUBE grouping sets (q21 covers ROLLUP): all 4 grouping
    * combinations in one pass — Spark expands to a single expand +
    * aggregate, so the fact table is still scanned exactly once.
    */
  val q35Cube = Q(
    "q35_cube",
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
    },
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        round(sum(o_totalprice),2) AS total
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"""))

  /** Date/time function battery: truncation, field extraction,
    * end-of-month, day arithmetic, epoch conversion — one projection
    * pass with the key filter pushed to the scan. Cross-engine
    * calibration: Spark's dayofweek is 1=Sunday, DuckDB's is 0=Sunday
    * (normalized here); epoch seconds are read in the engine-wide UTC
    * session timezone.
    */
  val q36Datetime = Q(
    "q36_datetime",
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .filter($"o_orderkey" < 500)
        .select(
          $"o_orderkey",
          date_trunc("month", $"o_orderdate").as("month_start"),
          year($"o_orderdate").as("yr"),
          quarter($"o_orderdate").as("qtr"),
          month($"o_orderdate").as("mon"),
          dayofmonth($"o_orderdate").as("dom"),
          (dayofweek($"o_orderdate") - 1).as("dow"),
          last_day($"o_orderdate").as("month_end"),
          datediff(lit("1998-12-31").cast("date"), $"o_orderdate".cast("date"))
            .cast("long").as("days_to_eoy"),
          unix_timestamp($"o_orderdate").as("epoch_s"))
    },
    Some("""SELECT o_orderkey,
        date_trunc('month', o_orderdate) AS month_start,
        year(o_orderdate) AS yr,
        quarter(o_orderdate) AS qtr,
        month(o_orderdate) AS mon,
        day(o_orderdate) AS dom,
        dayofweek(o_orderdate) AS dow,
        last_day(o_orderdate) AS month_end,
        date_diff('day', o_orderdate::DATE, DATE '1998-12-31') AS days_to_eoy,
        epoch(o_orderdate)::BIGINT AS epoch_s
      FROM orders WHERE o_orderkey < 500"""))

  /** Deterministic stratified sampling: per-stratum hash-bucket rates
    * (downsample the dominant language to 10%, keep 50% elsewhere) —
    * the class-rebalance pass of a training-data pipeline. Hash-based
    * membership is reproducible under re-runs, insertions, and
    * resharding (the q26 split property, per stratum); the "strat_"
    * salt decorrelates it from the q26 split assignment. Verified
    * output is the per-language kept/total census.
    */
  val q37StratifiedSample = Q(
    "q37_stratified_sample",
    (s, dir) => {
      import s.implicits._
      val bucket = pmod(
        graft.functions.exprs.token_hash60(concat(lit("strat_"), $"doc_id".cast("string"))),
        lit(100L))
      val rate = when($"lang" === "en", 10).otherwise(50)
      Tables.documents(s, dir)
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum((bucket < rate).cast("int")).as("n_sampled"))
    },
    Some("""SELECT lang, count(*) AS n_docs,
        CAST(sum(CASE WHEN
            (CAST(('0x' || substr(md5('strat_' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100)
            < (CASE WHEN lang = 'en' THEN 10 ELSE 50 END)
          THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      FROM documents GROUP BY lang"""))

  /** Custom typed-Aggregator UDAF (Welford/Chan mergeable variance)
    * verified three ways in one query: the custom aggregate, Spark's
    * builtin var_samp, and the DuckDB oracle must all round to the
    * same 8 decimals. Constant-size state + associative merge = the
    * contract any custom aggregate needs to scale.
    */
  val q38WelfordUdaf = Q(
    "q38_welford_udaf",
    (s, dir) => {
      import s.implicits._
      val welford = udaf(graft.functions.WelfordVariance)
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(
          round(welford($"l_discount"), 8).as("var_disc"),
          round(var_samp($"l_discount"), 8).as("var_disc_builtin"),
          count(lit(1)).as("n"))
    },
    Some("""SELECT l_returnflag,
        round(var_samp(l_discount),8) AS var_disc,
        round(var_samp(l_discount),8) AS var_disc_builtin,
        count(*) AS n
      FROM lineitem GROUP BY l_returnflag"""))

  /** GROUPING SETS with an ASYMMETRIC slice list — ((status, priority),
    * (priority), ()) — that neither rollup (q21, prefix-closed) nor
    * cube (q35, power set) can express: the per-priority slice without
    * its per-status sibling. Same physical shape as rollup/cube: Spark
    * Expands each row once per matching set, then one partial→final
    * hash aggregate — shuffle carries O(groups × sets), not rows.
    * Absent group keys surface as NULLs on both engines (q21's
    * convention; the grouped columns are non-null in the data, so no
    * conflation).
    */
  val q39GroupingSets = Q(
    "q39_grouping_sets",
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .groupingSets(
          Seq(Seq($"o_orderstatus", $"o_orderpriority"),
            Seq($"o_orderpriority"), Seq()),
          $"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
    },
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        round(sum(o_totalprice), 2) AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())"""))

  /** Time-RANGE window frames — the value-based sliding frame q33's
    * ranking suite doesn't touch: per user, the rolling 1-hour event
    * count and value sum (`RANGE BETWEEN 3600 PRECEDING AND CURRENT
    * ROW` over epoch seconds), plus a 10-ROW trailing mean. RANGE
    * frames are tie-insensitive (all peers share one frame), so the
    * order key needs no tiebreak; the ROWS frame orders on (ts_sec,
    * event_id) — unique, hence deterministic. One shuffle on user_id,
    * one sort, both frames evaluated in window operators over the same
    * partitioning. Epoch seconds via floor on BOTH sides: Spark's
    * unix_timestamp truncates while a DuckDB double→BIGINT cast
    * ROUNDS, so the oracle floors epoch() explicitly before casting.
    * Frame sums run over integer CENTS, not doubles: DuckDB evaluates
    * windowed aggregates with a segment tree (pairwise combine) while
    * Spark accumulates frames sequentially — double summation order
    * differs, and round() can't hide a straddle (nor agree on exact
    * half-decimals: Spark rounds the double's DECIMAL string HALF_UP,
    * DuckDB the raw binary double). Integer sums are order-independent
    * and the divisions are single IEEE ops, so both engines emit
    * bit-identical doubles UNROUNDED — no rounding is the fix here.
    */
  val q40RollingRange = Q(
    "q40_rolling_range",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"event_id", $"user_id", unix_timestamp($"ts").as("ts_sec"),
          round($"value" * 100).cast("long").as("cents"))
      val wRange = Window.partitionBy($"user_id").orderBy($"ts_sec".asc)
        .rangeBetween(-3600L, 0L)
      val wRows = Window.partitionBy($"user_id").orderBy($"ts_sec".asc, $"event_id".asc)
        .rowsBetween(-9, 0)
      ev.select(
        $"event_id", $"user_id", $"ts_sec",
        count(lit(1)).over(wRange).as("n_1h"),
        (sum($"cents").over(wRange) / 100.0).as("value_1h"),
        (sum($"cents").over(wRows) /
          (count(lit(1)).over(wRows) * 100.0)).as("avg_prev10"))
    },
    Some("""WITH ev AS (
        SELECT event_id, user_id,
          CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
          CAST(round(value * 100) AS BIGINT) AS cents
        FROM events)
      SELECT event_id, user_id, ts_sec,
        count(*) OVER wr AS n_1h,
        sum(cents) OVER wr / 100.0 AS value_1h,
        sum(cents) OVER wrows / (count(*) OVER wrows * 100.0) AS avg_prev10
      FROM ev
      WINDOW
        wr AS (PARTITION BY user_id ORDER BY ts_sec ASC
          RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW),
        wrows AS (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC
          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)"""))

  /** Count-Min sketch (functions.CountMinSketch UDAF): estimated vs
    * exact counts of the corpus's top-10 tokens, with the guaranteed
    * non-negative overcount surfaced. Buckets are md5 hex windows
    * (8 hex chars per depth row — engine-portable), computed codegen'd
    * in the projection so the UDAF is pure arithmetic; the grid is a
    * sum per cell and therefore merge-order-independent, which lets
    * DuckDB replay the ENTIRE sketch exactly by group-by — q24's HLL
    * only admits a tolerance gate. The probe set (top-10 by exact
    * count, lexicographic tiebreak) is deterministic on both sides.
    */
  val q41CountMin = Q(
    "q41_countmin",
    (s, dir) => {
      import s.implicits._
      import graft.functions.CountMinSketch
      // spread the corpus first (CLAUDE.md s01/s12 pattern): the token
      // explode + 4 md5 bucket hashes per token below are map-side on
      // the scan's 1-2 single-row-group partitions otherwise —
      // measured as the whole query running ~2 cores wide at sf1
      val toks = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(graft.functions.TextFunctions.wsTokens($"text")).as("t"))
      // ONE corpus pass: the exact census the query needs anyway also
      // feeds the sketch via WEIGHTED insert ((token, count) → grid —
      // bit-identical to per-occurrence insert because every cell is a
      // plain sum; the oracle's own bux/cells shape). Both consumers
      // read identical aggregate output, so the census exchange is
      // planned once and reused — the old per-occurrence sketch build
      // re-scanned and re-hashed the whole corpus (4 md5s per
      // occurrence vs per TYPE here).
      val census = toks.groupBy($"t").agg(count(lit(1)).as("exact_cnt"))
      val cmsW = udaf(CountMinSketch.Weighted)
      val sketch = census
        .select(CountMinSketch.buckets($"t").as("bks"), $"exact_cnt")
        .agg(cmsW($"bks", $"exact_cnt").as("sketch"))
      val top = census
        .orderBy($"exact_cnt".desc, $"t".asc).limit(10)
      top.crossJoin(sketch)
        .select($"t".as("word"), $"exact_cnt",
          CountMinSketch.probe($"sketch", $"t").as("est_cnt"))
        .withColumn("overcount", $"est_cnt" - $"exact_cnt")
    },
    Some {
      import graft.functions.CountMinSketch.{Depth, Width}
      s"""WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS t
        FROM documents),
      cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
      bux AS (
        SELECT t, c, i, CAST(('0x' || substr(md5(t), 1 + 8*i, 8)) AS BIGINT) % $Width AS b
        FROM cnt, (SELECT unnest(range($Depth)) AS i)),
      cells AS (SELECT i, b, CAST(sum(c) AS BIGINT) AS cell FROM bux GROUP BY i, b),
      top AS (SELECT t, c FROM cnt ORDER BY c DESC, t ASC LIMIT 10)
      SELECT tp.t AS word, CAST(tp.c AS BIGINT) AS exact_cnt,
        CAST(min(ce.cell) AS BIGINT) AS est_cnt,
        CAST(min(ce.cell) - tp.c AS BIGINT) AS overcount
      FROM top tp
      JOIN bux bx ON bx.t = tp.t
      JOIN cells ce ON ce.i = bx.i AND ce.b = bx.b
      GROUP BY tp.t, tp.c"""
    })

  /** q55: heavy hitters BY SKETCH ESTIMATE — the top-k report a
    * pipeline emits when the sketch is all it keeps. q41 ranks by the
    * exact census and reports the sketch's error; q55 is the inverse
    * composition (CMS + heap): ranking runs on the ESTIMATE (min over
    * the token's grid cells), with the exact count joined in only to
    * surface the overcount. Because est ≥ exact always (CMS never
    * undercounts), every token whose exact count exceeds the k-th
    * largest ESTIMATE is guaranteed present — the classic
    * heavy-hitter guarantee, pinned in `CmsTopKSpec`. SpaceSaving /
    * Misra–Gries would be the textbook alternatives, but their
    * internals are ORDER-dependent (an external oracle cannot replay
    * them); the CMS grid is a plain per-cell sum — order- and
    * partitioning-independent — so DuckDB replays the whole selection
    * exactly.
    *
    * Scale shape: the grid is one 32 KiB partial-aggregated state
    * (map-side collapse, one grid per partition through the
    * shuffle); candidates come from the word-count-shaped census the
    * corpus needs anyway for exact_cnt; ranking is
    * `orderBy(est).limit(k)` — TakeOrderedAndProject, per-partition
    * heaps, no global sort, no window barrier. The streaming face is
    * [[graft.streaming.EventStreams.windowedTopK]]: per-window grids
    * (bounded state) probed by a candidate watchlist on read.
    */
  val q55CmsTopk = Q(
    "q55_cms_topk",
    (s, dir) => {
      import s.implicits._
      import graft.functions.CountMinSketch
      // spread the corpus first (CLAUDE.md s01/s12 pattern): the token
      // explode + 4 md5 bucket hashes per token below are map-side on
      // the scan's 1-2 single-row-group partitions otherwise —
      // measured as the whole query running ~2 cores wide at sf1
      val toks = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(graft.functions.TextFunctions.wsTokens($"text")).as("t"))
      // ONE corpus pass (see q41): the census feeds BOTH the candidate
      // probe and the sketch (weighted insert, bit-identical grid),
      // so the corpus is scanned and tokenized once and the census
      // exchange is reused between the branches.
      val census = toks.groupBy($"t").agg(count(lit(1)).as("exact_cnt"))
      val cmsW = udaf(CountMinSketch.Weighted)
      val sketch = census
        .select(CountMinSketch.buckets($"t").as("bks"), $"exact_cnt")
        .agg(cmsW($"bks", $"exact_cnt").as("sketch"))
      census
        .crossJoin(broadcast(sketch))
        .select($"t".as("word"), $"exact_cnt",
          CountMinSketch.probe($"sketch", $"t").as("est_cnt"))
        .orderBy($"est_cnt".desc, $"word".asc).limit(10)
        .withColumn("overcount", $"est_cnt" - $"exact_cnt")
    },
    Some {
      import graft.functions.CountMinSketch.{Depth, Width}
      s"""WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS t
        FROM documents),
      cnt AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
      bux AS (
        SELECT t, c, i, CAST(('0x' || substr(md5(t), 1 + 8*i, 8)) AS BIGINT) % $Width AS b
        FROM cnt, (SELECT unnest(range($Depth)) AS i)),
      cells AS (SELECT i, b, CAST(sum(c) AS BIGINT) AS cell FROM bux GROUP BY i, b),
      est AS (
        SELECT bx.t, bx.c, CAST(min(ce.cell) AS BIGINT) AS est
        FROM bux bx JOIN cells ce ON ce.i = bx.i AND ce.b = bx.b
        GROUP BY bx.t, bx.c)
      SELECT t AS word, CAST(c AS BIGINT) AS exact_cnt, est AS est_cnt,
        est - CAST(c AS BIGINT) AS overcount
      FROM est
      ORDER BY est_cnt DESC, word ASC LIMIT 10"""
    },
    headline = true)

  private val KmvK = 32

  /** KMV distinct-count sketch (`operators.KmvSketch`) — the mergeable
    * distinct estimator beside q41's Count-Min frequency sketch:
    * per group, the k smallest portable hashes; estimate
    * (k−1)·2^60/h_k, self-audited against the exact distinct count.
    * The md5-prefix hash makes the whole estimator deterministic, so
    * the oracle replays the ESTIMATE exactly — the property HLL can't
    * offer (q24's sketches are rows-only for that reason). Mergeability
    * (union + re-min-k == sketch of union) is pinned in KmvSketchSpec.
    */
  val q42KmvDistinct = Q(
    "q42_kmv_distinct",
    (s, dir) => {
      import s.implicits._
      graft.operators.KmvSketch
        .distinctEstimate(Tables.lineitem(s, dir), "l_returnflag", "l_orderkey", KmvK)
    },
    Some(s"""WITH h AS (
        SELECT DISTINCT l_returnflag AS g,
          CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM lineitem),
      rk AS (
        SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h ASC) AS rn FROM h),
      kth AS (SELECT g, h AS hk FROM rk WHERE rn = $KmvK),
      ex AS (
        SELECT l_returnflag AS g, count(DISTINCT l_orderkey) AS exact_distinct
        FROM lineitem GROUP BY 1),
      sel AS (
        SELECT ex.g, ex.exact_distinct,
          round(COALESCE(${KmvK - 1}.0 * ${1L << 60} / kth.hk,
                         ex.exact_distinct), 4) AS est_distinct
        FROM ex LEFT JOIN kth ON ex.g = kth.g)
      SELECT g AS l_returnflag, CAST(exact_distinct AS BIGINT) AS exact_distinct,
        est_distinct,
        round(abs(est_distinct - exact_distinct) / exact_distinct, 4) AS rel_err
      FROM sel"""))

  private val SetK = 256 // set-op sketch size (rel err ~ 1/sqrt(k) ≈ 6%)
  private val SetN = 3 // shingle width for the vocabulary universe

  /** KMV multiset operations (`KmvSketch.setOpsEstimate`, Beyer et
    * al. 2007): union / intersection / Jaccard estimates for the
    * 3-gram shingle vocabularies of two corpus halves (doc_id
    * parity), from their min-k sketches alone — the corpus-overlap
    * question ("how much text do two crawls share") answered without
    * co-locating the corpora. One corpus pass, one hash-keyed
    * shuffle, O(k) final state; the estimator arithmetic is exact on
    * both engines, so the oracle hash-matches the ESTIMATES, and the
    * exact union/intersection ride along as the self-audit (~16k ∪,
    * ~4k ∩ at sf0.01 against k = 256).
    */
  val q43KmvSetOps = Q(
    "q43_kmv_setops",
    (s, dir) => {
      import s.implicits._
      val halves = Tables.documents(s, dir)
        .select(($"doc_id" % 2).as("side"),
          explode(DedupQueries.shingles($"text", SetN)).as("sh"))
      graft.operators.KmvSketch.setOpsEstimate(halves, "side", "sh", SetK)
    },
    Some(s"""WITH sh3 AS (
        SELECT doc_id % 2 AS side, unnest(${DedupQueries.shinglesSql(SetN)}) AS sh
        FROM documents),
      h0 AS (
        SELECT DISTINCT side,
          CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h
        FROM sh3),
      ph AS (
        SELECT h, max(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ina,
          max(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS inb
        FROM h0 GROUP BY h),
      ska AS (SELECT h FROM ph WHERE ina = 1 ORDER BY h ASC LIMIT $SetK),
      skb AS (SELECT h FROM ph WHERE inb = 1 ORDER BY h ASC LIMIT $SetK),
      sku AS (
        SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
        ORDER BY h ASC LIMIT $SetK),
      m AS (SELECT
        (SELECT count(*) FROM ph) AS exact_union,
        (SELECT count(*) FROM ph WHERE ina = 1 AND inb = 1) AS exact_inter,
        (SELECT count(*) FROM sku) AS szu,
        (SELECT max(h) FROM sku) AS hk,
        (SELECT count(*) FROM sku
          WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)) AS rho),
      sel AS (SELECT *,
        CASE WHEN szu < $SetK THEN szu::DOUBLE
          ELSE round(COALESCE(${SetK - 1}.0 * ${1L << 60} / hk, szu::DOUBLE), 4)
          END AS est_union
        FROM m)
      SELECT CAST(exact_union AS BIGINT) AS exact_union, est_union,
        CAST(exact_inter AS BIGINT) AS exact_inter,
        round(rho::DOUBLE * est_union / szu, 4) AS est_inter,
        round(rho::DOUBLE / szu, 4) AS est_jaccard
      FROM sel"""))

  /** Portable HyperLogLog distinct users per event type
    * (graft.operators.HllSketch — Flajolet et al. 2007): register
    * max-ranks from the md5-prefix hash, EXACT integer harmonic-sum
    * scaling, pre-rounded embedded ln table for the linear-counting
    * branch. The deterministic HLL the KMV Scaladoc said stock engines
    * can't oracle-check — both correction branches are exercised
    * across SFs (15/150 distinct users → linear counting; 1500 →
    * raw estimator). Exact countDistinct rides as the audit.
    * Scale: two-level partial aggregate, first shuffle ≤ groups × 256
    * rows after map-side combine.
    */
  val q53HllDistinct = Q(
    "q53_hll_distinct",
    (s, dir) => graft.operators.HllSketch
      .distinctEstimate(Tables.events(s, dir), "event_type", "user_id"),
    Some(graft.operators.HllSketch.oracleSql(
      "SELECT event_type AS g, user_id AS v FROM events", "event_type")),
    headline = true)

  /** Per-group quantiles from a deterministic bottom-k-by-hash sample
    * (graft.operators.SampleQuantiles) — the quantile member of the
    * portable sketch family: GK/KLL/t-digest internals aren't
    * oracle-replayable (q13's point), a portable-hash bottom-k sample
    * is. Estimates at p ∈ {.25, .5, .75, .9} per l_returnflag; both
    * sides run the SAME explicit rank-join interpolation, so the
    * oracle hash-matches the estimates from the raw data up.
    *
    * Scale: the sample is a FOLD (an O(k) `BottomKHeap` per group per
    * scan task, merged on the driver — one `ModelFold` job, no
    * exchange: the corpus never moves, only O(scan partitions ×
    * groups × k) partial heaps do), and the interpolation runs on the
    * driver over groups × k rows — this IS the plan you'd run at
    * 100 TB. The exact full-sort audit (`withExactAudit`)
    * deliberately does NOT ride in the query: its per-group global
    * sort runs one task per group (measured 2.6 s vs sub-second
    * sample-only at sf0.1), the exact anti-scale shape the sample
    * exists to avoid — the audit equivalence is pinned in
    * SampleQuantilesSpec on the real table instead (the d07 pattern:
    * expensive baselines audit, they don't ship).
    */
  val q54SampleQuantiles = Q(
    "q54_sample_quantiles",
    (s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
      val samp = graft.operators.SampleQuantiles.bottomKSample(
        li, $"l_returnflag", $"l_extendedprice",
        concat($"l_orderkey".cast("string"), lit("-"),
          $"l_linenumber".cast("string")))
      // the sample is model-sized (groups × k rows, already on the
      // driver): the interpolation runs driver-side (q13's pattern),
      // so the build runs one job, the fold
      graft.operators.SampleQuantiles
        .estimateFromSample(samp, Seq(0.25, 0.5, 0.75, 0.9), "est_q")
        .withColumnRenamed("g", "l_returnflag")
    },
    Some("""WITH keyed AS (
        SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v,
          CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS uk
        FROM lineitem WHERE l_extendedprice IS NOT NULL),
      hashed AS (
        SELECT g, v, uk,
          CAST(('0x' || substr(md5(uk), 1, 15)) AS BIGINT) AS h
        FROM keyed),
      samp AS (
        SELECT g, v FROM (
          SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY h, v) AS rn
          FROM hashed)
        WHERE rn <= 256),
      ps AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS p),
      sbyval AS (
        SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS vr FROM samp),
      ssizes AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM samp GROUP BY g),
      sgrid AS (
        SELECT g, p, CAST(floor(p * (n - 1)) AS BIGINT) AS klo,
          p * (n - 1) - floor(p * (n - 1)) AS frac,
          least(CAST(floor(p * (n - 1)) AS BIGINT) + 1, n - 1) AS khi
        FROM ssizes, ps)
      SELECT gr.g AS l_returnflag, gr.p,
        round(lo.v + (hi.v - lo.v) * gr.frac, 4) AS est_q
      FROM sgrid gr
      JOIN sbyval lo ON lo.g = gr.g AND lo.vr - 1 = gr.klo
      JOIN sbyval hi ON hi.g = gr.g AND hi.vr - 1 = gr.khi"""),
    headline = true)

  val all: Seq[Q] = Seq(
    q27SemiAnti, q28Subqueries, q29ArrayAgg, q30Regex, q31Unpivot,
    q32Median, q33WindowSuite, q34ArgmaxAgg, q35Cube, q36Datetime,
    q37StratifiedSample, q38WelfordUdaf, q39GroupingSets, q40RollingRange,
    q41CountMin, q42KmvDistinct, q43KmvSetOps, q53HllDistinct,
    q54SampleQuantiles, q55CmsTopk)
}
