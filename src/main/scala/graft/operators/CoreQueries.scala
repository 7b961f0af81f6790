package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.{MysqlFunctions => M}
import graft.functions.{TextFunctions => T}
import graft.graph.GraphOps

/** The SURVEY §2 operator inventory expressed as queries over the driver
  * test tables (TESTDATA.md), one per operator family. Each has a DuckDB
  * oracle in [[graft.SparkEntry.oracleSql]]; column names/types are kept
  * oracle-identical (driver sorts columns by name and hash-compares).
  *
  * Scale notes per query are inline: dimension joins broadcast, wide
  * aggregations use map-side partial agg, every query's filter/projection
  * pushes into the parquet scan.
  */
object CoreQueries {

  // P1/P2/P5 — project+alias, filter on flags/predicates, string cleanup
  def projectFilter(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").as("qty"),
        M.oracleRound(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("net_price"),
        M.stripNewlines(col("l_returnflag")).as("flag"))
      .orderBy("l_orderkey", "l_linenumber")

  // A1/A2 — group by entity + sum/avg/count (TPC-H Q1 shape)
  def aggGroup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        M.oracleRound(sum("l_quantity"), 2).as("sum_qty"),
        M.oracleRound(sum("l_extendedprice"), 2).as("sum_price"),
        M.oracleRound(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  // J1/J2 — inner equi-joins against dims; broadcast the small sides.
  // At 100 TB lineitem, part/supplier stay broadcastable dims → no shuffle
  // of the fact table.
  def joinAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .groupBy("p_brand")
      .agg(
        M.oracleRound(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("p_brand")

  // J3/J7 — left outer join preserving unmatched left rows
  def leftJoinAgg(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey", "c_name")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        M.oracleRound(sum("o_totalprice"), 2).as("total_spend"))
      .orderBy("c_custkey")

  // J10/J12/O2 — parent lookup via (self-)join + order by id. nation→region
  // models the location/order_type parent self-join shape.
  def parentJoin(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir).as("n")
      .join(broadcast(Tables.region(s, dir).as("r")),
        col("n.n_regionkey") === col("r.r_regionkey"), "left")
      .select(col("n_nationkey"), col("n_name"), col("r_name").as("parent_name"))
      .orderBy("n_nationkey")

  // A3 — MySQL GROUP_CONCAT(DISTINCT … ORDER BY …) with pinned
  // min-weight-per-name semantics (SURVEY §7.4.1)
  def groupConcatOrdered(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(M.orderedDistinctConcat(col("l_returnflag"), col("l_linenumber"), ";")
        .as("flags"))
      .orderBy("o_orderkey")

  // A4 — unordered distinct group_concat, pinned to sorted-by-value
  def groupConcatSorted(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .groupBy("c_nationkey")
      .agg(M.sortedDistinctConcat(col("c_mktsegment"), ",").as("segments"))
      .orderBy("c_nationkey")

  // R1/R2 — pivot: spread a categorical into columns (tags/attributes shape)
  val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  def pivotEvents(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", eventTypes) // explicit values: no discovery job
      .count()
    p.select(col("user_id") +: eventTypes.map(t =>
        coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("user_id")
  }

  // J13 — anti-join (exclude list)
  def antiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  // semi-join (EXISTS) — completes the join-kind surface. Plan audited
  // (r2 flagged a bench blip): BroadcastHashJoin LeftSemi BuildRight on
  // a single-column orders scan — pinned by PlanSpec; the r2 timing was
  // run noise, not a broadcast→shuffle flip.
  def semiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")

  // P4 — MySQL CAST(AS UNSIGNED): numeric prefix, 0 fallback
  def castUnsigned(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
        M.castUnsigned(col("o_orderpriority")).as("prio_num"),
        M.castUnsigned(col("o_orderstatus")).as("status_num"))
      .orderBy("o_orderkey")

  // A5 — distinct
  def distinctSegments(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select("c_mktsegment").distinct()
      .orderBy("c_mktsegment")

  // O1/O3 — order by + limit (top-N). Spark TakeOrderedAndProject:
  // per-partition top-N then merge — no global sort.
  def topN(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), M.oracleRound(col("o_totalprice"), 2).as("price"))
      .orderBy(col("price").desc, col("o_orderkey"))
      .limit(10)

  // O6 — window: row_number per partition (util's sort-weight shape)
  def windowRownum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "rn")
      .orderBy("o_custkey", "rn")
  }

  // set operators — union all / intersect / except (G3's union-like op
  // generalized to the full set-op surface)
  def unionAll(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey").as("k"), lit("o").as("src"))
    val l = Tables.lineitem(s, dir).filter(col("l_quantity") > 49)
      .select(col("l_orderkey").as("k"), lit("l").as("src"))
    o.union(l).orderBy("src", "k")
  }

  def intersectKeys(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).filter(col("o_totalprice") > 300000)
      .select(col("o_orderkey").as("k"))
    val l = Tables.lineitem(s, dir).filter(col("l_quantity") > 45)
      .select(col("l_orderkey").as("k"))
    o.intersect(l).orderBy("k")
  }

  def exceptKeys(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"))
    val l = Tables.lineitem(s, dir).filter(col("l_quantity") > 10)
      .select(col("l_orderkey").as("k"))
    o.except(l).orderBy("k")
  }

  // grouping sets — rollup over two dims (completes the agg surface)
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), M.oracleRound(sum("o_totalprice"), 2).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  // CUBE + grouping_id: all four levels of the (returnflag, linestatus)
  // lattice in one pass — the multidimensional reporting shape the
  // rollup's linear hierarchy (q18) doesn't cover. grouping_id uses the
  // SQL-standard bitmask (first cube column = MSB) on both engines.
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        M.oracleRound(sum("l_quantity"), 2).as("sum_qty"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  // Explicit GROUPING SETS — the third grouping-lattice shape next to
  // ROLLUP (q18) and CUBE (q68): per-flag totals, per-status totals,
  // and the grand total, WITHOUT the (flag,status) cross cells a cube
  // would also compute. One Expand + one aggregation, same as cube.
  def groupingSetsAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        M.oracleRound(sum("l_quantity"), 2).as("sum_qty"),
        grouping_id().cast("int").as("gid"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  // Unpivot (melt): wide numeric attributes to long (attr, val) rows —
  // Spark's native unpivot is ONE scan with an Expand (each input row
  // fans out to #value-columns output rows); the naive
  // UNION-ALL-of-selects the oracle spells out scans the table once
  // per attribute. Value columns unify to double (unpivot's
  // common-type contract).
  def unpivotParts(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_partkey"), col("p_size").cast("double").as("size"),
        col("p_retailprice").as("retailprice"))
      .unpivot(Array(col("p_partkey")), Array(col("size"), col("retailprice")),
        "attr", "val")
      .orderBy("p_partkey", "attr")

  // time-bucketed aggregation (batch twin of the streaming windowed agg)
  def windowAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), M.oracleRound(sum("value"), 2).as("total_value"))
      .orderBy("bucket", "event_type")

  // ---- graph stage (G1/O4) over the region←nation←customer hierarchy ----

  /** Edges "child references parent": customer→nation, nation→region.
    * Node ids are prefixed strings so the three entity spaces disjoin. */
  private def hierarchyEdges(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(s, dir).select(
      concat(lit("n"), col("n_nationkey").cast("string")).as("src"),
      concat(lit("r"), col("n_regionkey").cast("string")).as("dst"))
    val c = Tables.customer(s, dir).select(
      concat(lit("c"), col("c_custkey").cast("string")).as("src"),
      concat(lit("n"), col("c_nationkey").cast("string")).as("dst"))
    n.union(c)
  }

  // O4 — longest-path topological depth (regions 0, nations 1, customers 2)
  def topoDepth(s: SparkSession, dir: String): DataFrame =
    GraphOps.topoDepth(hierarchyEdges(s, dir))
      .select(col("node"), col("depth"))
      .orderBy("node")

  // G1 — BFS closure downward from the ASIA region
  def bfsClosure(s: SparkSession, dir: String): DataFrame = {
    val down = hierarchyEdges(s, dir).select(col("dst").as("src"), col("src").as("dst"))
    val root = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      .select(concat(lit("r"), col("r_regionkey").cast("string")).as("node"))
    GraphOps.bfsClosure(down, root).orderBy("node")
  }

  // G2 — cycle scan: the hierarchy is acyclic ⇒ empty cycle set; the
  // query returns the (empty) set of cycle-reaching nodes.
  def cycleNodes(s: SparkSession, dir: String): DataFrame =
    GraphOps.findCycleNodes(hierarchyEdges(s, dir)).orderBy("node")

  // P3 — LIKE / contains filters (the reference's QA scans use
  // `LIKE '%;%'`, concept_csv_export.py:198-224)
  def likeFilter(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .filter(col("p_type").like("%ECO%") && col("p_brand").contains("1"))
      .select("p_partkey", "p_brand", "p_type")
      .orderBy("p_partkey")

  // P6 — name:value pair concat (location attributes,
  // location_csv_export.py:114)
  def concatPairs(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"),
        concat_ws(":", col("n_name"), col("r_name")).as("pair"))
      .orderBy("n_nationkey")

  // P9/R5 — split-list first-element access (the `_mapping:<src>` key,
  // concept_csv_export.py:392-404): first of a ';'-joined ordered list
  def splitFirst(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(M.orderedDistinctConcat(col("l_returnflag"), col("l_linenumber"), ";")
        .as("flags"))
      .select(col("o_orderkey"),
        element_at(split(col("flags"), ";"), 1).as("first_flag"))
      .orderBy("o_orderkey")

  // P10 — forced-null column (Void/Retire, concept_csv_export.py:185-187)
  def nullColumn(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"), lit(null).cast("string").as("void_retire"))
      .orderBy("c_custkey")

  // J5 — the mapping-pivot shape: a code stream with a Number/Name
  // cast-split discriminator (P4) pivoted into per-(kind|spec) columns
  // with distinct-sorted concat. Mirrors concept_csv_export.py:292-314
  // restructured as join-once + pivot (SURVEY §2.3 J5).
  def mappingPivot(s: SparkSession, dir: String): DataFrame = {
    val codes = Tables.orders(s, dir).select(col("o_orderkey"),
      expr("stack(2, 'prio', o_orderpriority, 'status', o_orderstatus) as (kind, code)"))
    val spec = when(M.castUnsigned(col("code")) =!= 0, lit("Number"))
      .otherwise(lit("Name"))
    val headers = Seq("prio|Name", "prio|Number", "status|Name", "status|Number")
    val p = codes
      .withColumn("__hdr", concat(col("kind"), lit("|"), spec))
      .groupBy("o_orderkey")
      .pivot("__hdr", headers)
      .agg(M.sortedDistinctConcat(col("code"), ";"))
    p.select(col("o_orderkey") +:
        headers.map(h => coalesce(col(s"`$h`"), lit("")).as(h)): _*)
      .orderBy("o_orderkey")
  }

  // J8/J9 + A3 — the members/answers 3-level left-join chain: parent →
  // link (with sort weight) → member (flag-filtered) → member name,
  // collapsed with the ordered-distinct concat
  // (concept_csv_export.py:365-376)
  def joinChainConcat(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
    val li = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_partkey", "l_linenumber")
    val part = Tables.part(s, dir).filter(col("p_size") > 25)
      .select("p_partkey", "p_name")
    orders
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .join(part, col("l_partkey") === col("p_partkey"), "left")
      .groupBy("o_orderkey")
      .agg(M.orderedDistinctConcat(col("p_name"), col("l_linenumber"), ";")
        .as("members"))
      .orderBy("o_orderkey")
  }

  // A6 — all-empty column probes (the R4 pruning aggregate,
  // concept_csv_export.py:626-629): one pass, one flag per column
  def emptyProbe(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.customer(s, dir)
      .withColumn("ghost", lit(null).cast("string"))
    val probes = Seq("c_name", "c_mktsegment", "ghost").map(c =>
      max(when(col(c).isNotNull && length(col(c)) > 0, 1).otherwise(0))
        .cast("int").as(s"${c}_filled"))
    df.agg(probes.head, probes.tail: _*)
  }

  // V1 — stop-character scan shape: union of per-table scans flagging
  // values containing a delimiter (concept_csv_export.py:193-235)
  def stopCharScan(s: SparkSession, dir: String): DataFrame = {
    val brands = Tables.part(s, dir).filter(col("p_brand").like("%#25%"))
      .select(lit("brand").as("kind"), col("p_partkey").cast("long").as("id"),
        col("p_brand").as("value"))
    val names = Tables.customer(s, dir).filter(col("c_name").like("%999%"))
      .select(lit("name").as("kind"), col("c_custkey").cast("long").as("id"),
        col("c_name").as("value"))
    brands.unionByName(names).orderBy("kind", "id")
  }

  // window functions beyond row_number: running aggregate + lag over an
  // ordered per-key frame (engine breadth; reference has none — SURVEY
  // §2.9 — but a complete engine needs the windowed-aggregate surface)
  def windowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        M.oracleRound(sum("o_totalprice")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running_total"),
        M.oracleRound(coalesce(lag("o_totalprice", 1).over(w), lit(0.0)), 2)
          .as("prev_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // date/time function surface: extraction + arithmetic over timestamps
  def dateFunctions(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        dayofweek(col("o_orderdate")).as("dow"),
        date_add(col("o_orderdate"), 30).as("due_date"),
        datediff(lit("1998-12-31").cast("date"), col("o_orderdate")).as("days_left"))
      .orderBy("o_orderkey")

  // JSON function surface: path extraction from a JSON string column
  // feeding typed aggregation (events.props carries {"k": <int>})
  def jsonAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(sum("k").as("sum_k"),
        count(when(col("k") > 50, 1)).as("n_high"))
      .orderBy("event_type")

  // exact distinct counts + exact interpolated quantiles (the reference
  // has no statistics surface; a complete engine needs it — Spark
  // `percentile` and DuckDB `quantile_cont` share the linear-
  // interpolation definition, so results are oracle-exact).
  // Scale note: EXACT percentile buffers each group's values in the
  // aggregation buffer — fine for bounded group counts; at corpus scale
  // switch to approx_percentile (t-digest, constant memory), which is
  // deliberately not oracled here because sketch implementations differ
  // across engines.
  def quantileStats(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("n_parts"),
        M.oracleRound(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
        M.oracleRound(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"))
      .orderBy("l_returnflag")

  // the bounded-memory-SKETCH statistics demonstrator for q50's
  // semantics: approx_percentile (Greenwald-Khanna) and HyperLogLog++
  // distinct counts. Sketch INTERNALS differ across engines, so the
  // sketch values themselves can't be hash-oracled — instead the query
  // emits deterministic facts: the exact statistics plus `*_in_bound`
  // booleans PROVING each sketch landed inside its error bound, so the
  // oracle states the exact values and `true` directly and the row is
  // fully hash-gated. NOTE this oracle-verifiable FORM trades away the
  // bounded-memory property the sketches exist for: the exact
  // percentile()/countDistinct columns buffer every group value and
  // shuffle all distinct partkeys — they are the PROOF scaffolding, not
  // the at-scale plan. The at-scale exact plan is q58's histogram
  // interpolation (bounded memory AND hash-oracled); a pure production
  // sketch query is this one minus the exact columns.
  // Bracket validity: GK at accuracy 10000 guarantees rank error
  // ≤ n/10000; the exact interpolated percentiles at p ± 0.001 cover a
  // (n-1)/1000-rank band, which dominates the GK error PLUS the ≤ ~1
  // rank definitional offset between approx_percentile's nearest-rank
  // target (ceil(p·n)) and percentile's interpolated target ((n-1)·p)
  // only once (n-1)/1000 ≥ n/10000 + 1, i.e. n ≳ 1100 with distinct
  // values — NOT for all n ≥ 2 (counterexample n=2, {0,100}: estimate
  // 0 or 100, bracket [49.9, 50.1]). Gate groups carry n ≈ 2000+;
  // shrinking the groups below ~1100 needs a rank-based bracket
  // (exact order statistics at ceil(pn) ± (1+εn)) instead. HLL++ at
  // default rsd 0.05 gets a 3σ relative band of 15 %.
  def quantileStatsApprox(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("n_parts"),
        M.oracleRound(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
        M.oracleRound(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
        approx_count_distinct("l_partkey").as("__ndv_est"),
        expr("approx_percentile(l_quantity, 0.5, 10000)").as("__mq_est"),
        expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("__pp_est"),
        expr("percentile(l_quantity, 0.499)").as("__mq_lo"),
        expr("percentile(l_quantity, 0.501)").as("__mq_hi"),
        expr("percentile(l_extendedprice, 0.899)").as("__pp_lo"),
        expr("percentile(l_extendedprice, 0.901)").as("__pp_hi"))
      .select(col("l_returnflag"), col("n_parts"),
        col("median_qty"), col("p90_price"),
        (col("__mq_est") >= col("__mq_lo") &&
          col("__mq_est") <= col("__mq_hi")).as("median_in_bound"),
        (col("__pp_est") >= col("__pp_lo") &&
          col("__pp_est") <= col("__pp_hi")).as("p90_in_bound"),
        (abs(col("__ndv_est").cast("double") / col("n_parts") - 1.0)
          <= 0.15).as("ndv_in_bound"))
      .orderBy("l_returnflag")

  /** Per-group cumulative counts over a `(groups..., v, cnt)` value
    * histogram WITHOUT a per-group single-partition sort: the q70/q94
    * two-level prefix sum, applied to the statistics family. A few
    * huge groups are the norm for quantile targets (q58/q84 have 3),
    * so `sum(cnt) OVER (PARTITION BY g ORDER BY v)` would sort each
    * group on one executor — the skew bottleneck at 100 TB. Instead:
    * value-range-bucket each group (any monotone-in-v bucketing
    * preserves the cum order, so the float width only steers
    * parallelism, never the result), aggregate per-bucket totals,
    * running-offset the ≤ `buckets`-row totals per group (tiny
    * window), and cumsum within (group, bucket) partitions. Integer
    * sums — identical to the naive global window, bit for bit. Adds
    * `cum` (inclusive cumulative count in v-order) and `n` (group
    * total). */
  private[graft] def bucketedCumCounts(hist: DataFrame, groups: Seq[String],
      buckets: Int = 256): DataFrame = {
    val g = groups.map(col)
    val stats = hist.groupBy(g: _*)
      .agg(min("v").as("__lo"), max("v").as("__hi"),
        sum("cnt").as("n"))
    val bkt = least(lit(buckets - 1), greatest(lit(0),
      floor((col("v") - col("__lo")) * buckets /
        (col("__hi") - col("__lo") + lit(1e-9))).cast("int")))
    val withB = hist.join(broadcast(stats), groups).withColumn("__bkt", bkt)
    val boff = withB.groupBy(g :+ col("__bkt"): _*)
      .agg(sum("cnt").as("__btot"))
      .withColumn("__boff", coalesce(
        sum("__btot").over(Window.partitionBy(groups.map(col): _*)
          .orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(g :+ col("__bkt") :+ col("__boff"): _*)
    withB.join(boff, groups :+ "__bkt")
      .withColumn("cum", col("__boff") + sum("cnt").over(
        Window.partitionBy(g :+ col("__bkt"): _*).orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__lo", "__hi", "__bkt", "__boff")
  }

  // The 100 TB EXACT-quantile plan for q50's semantics — the third leg
  // of the statistics family: q50 is exact-but-buffering (per-group
  // value arrays in the agg buffer), q52 is bounded-memory-but-sketch
  // (sketch values proven in-bound, not restated), this is BOTH exact
  // and bounded: distribute a per-(group,value) count histogram (one
  // shuffle, map-side combined, state = O(distinct values) spread
  // across executors — never a per-group buffer), locate the two
  // values covering positions floor(h)/floor(h)+1 at h=(n-1)·p with
  // the bucketed cumulative counts (no per-group sort — see
  // [[bucketedCumCounts]]), and interpolate lower+(h-⌊h⌋)·(upper-
  // lower) — the same definition `percentile`/quantile_cont use, so
  // unlike q52 this IS hash-oracled.
  def quantileStatsDist(s: SparkSession, dir: String): DataFrame = {
    // unpivot the two (column, percentile) targets into (g, m, v) rows
    // so one histogram pipeline serves both quantiles
    val unpivot = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("g"), explode(array(
        struct(lit("qty").as("m"), col("l_quantity").cast("double").as("v")),
        struct(lit("price").as("m"), col("l_extendedprice").cast("double").as("v"))))
        .as("mv"))
      .select(col("g"), col("mv.m").as("m"), col("mv.v").as("v"))
    val hist = unpivot.groupBy("g", "m", "v").agg(count(lit(1)).as("cnt"))
    val cum = bucketedCumCounts(hist, Seq("g", "m"))
    // value v covers sorted 0-based positions [cum-cnt, cum-1]; pick the
    // covering values for i0=⌊h⌋ and i0+1 via conditional aggregation
    val p = when(col("m") === "qty", lit(0.5)).otherwise(lit(0.9))
    val h = (col("n") - lit(1)).cast("double") * p
    val i0 = floor(h)
    val picked = cum.groupBy("g", "m").agg(
      max(when(col("cum") - col("cnt") <= i0 && i0 < col("cum"), col("v"))).as("v0"),
      max(when(col("cum") - col("cnt") <= i0 + 1 && i0 + 1 < col("cum"), col("v"))).as("v1"),
      max(col("n")).as("n"))
    val h2 = (col("n") - lit(1)).cast("double") *
      when(col("m") === "qty", lit(0.5)).otherwise(lit(0.9))
    val frac = h2 - floor(h2)
    val quant = M.oracleRound(
      col("v0") + frac * (coalesce(col("v1"), col("v0")) - col("v0")), 4)
    picked.withColumn("q", quant)
      .groupBy("g")
      .agg(max(when(col("m") === "qty", col("q"))).as("median_qty"),
        max(when(col("m") === "price", col("q"))).as("p90_price"))
      .select(col("g").as("l_returnflag"), col("median_qty"), col("p90_price"))
      .orderBy("l_returnflag")
  }

  // Exact-percentile outlier trim: keep rows whose price sits inside
  // the [p05, p95] band of their group, bounds computed with the q58
  // bounded-memory value-histogram interpolation (NO per-group buffer)
  // and 4-dp-rounded before the comparison — q58 proves the rounded
  // bounds hash-equal quantile_cont, so the trim filter is identical
  // on both engines. The standard "drop length/price outliers before
  // training stats" curation step, exact at any group size.
  def percentileTrim(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("g"),
        col("l_extendedprice").cast("double").as("v"))
    // bucketed two-level cumulative counts — no 3-partition sort (the
    // [[bucketedCumCounts]] scale note)
    val cum = bucketedCumCounts(
      base.groupBy("g", "v").agg(count(lit(1)).as("cnt")), Seq("g"))
    def pick(p: Double) = {
      val h = (col("n") - lit(1)).cast("double") * p
      val i0 = floor(h)
      (max(when(col("cum") - col("cnt") <= i0 && i0 < col("cum"), col("v"))),
        max(when(col("cum") - col("cnt") <= i0 + 1 && i0 + 1 < col("cum"), col("v"))))
    }
    val (lo0, lo1) = pick(0.05)
    val (hi0, hi1) = pick(0.95)
    val picked = cum.groupBy("g").agg(lo0.as("lo0"), lo1.as("lo1"),
      hi0.as("hi0"), hi1.as("hi1"), max("n").as("n"))
    def interp(p: Double, v0: Column, v1: Column) = {
      val h = (col("n") - lit(1)).cast("double") * p
      val frac = h - floor(h)
      M.oracleRound(v0 + frac * (coalesce(v1, v0) - v0), 4)
    }
    val bounds = picked.select(col("g"),
      interp(0.05, col("lo0"), col("lo1")).as("lo"),
      interp(0.95, col("hi0"), col("hi1")).as("hi"))
    base.join(bounds, Seq("g"))
      .filter(col("v") >= col("lo") && col("v") <= col("hi"))
      .groupBy("g", "lo", "hi")
      .agg(count(lit(1)).as("n_kept"),
        M.oracleRound(sum("v"), 2).as("sum_kept"))
      .select(col("g").as("l_returnflag"), col("n_kept"), col("sum_kept"),
        col("lo"), col("hi"))
      .orderBy("l_returnflag")
  }

  // Windowed DISTINCT count — a native feature Spark's window
  // aggregates LACK (`count(DISTINCT) OVER` is unsupported): composed
  // as size(collect_set) over the same RANGE frame, which is exact and
  // stays a single keyed window. State is the per-frame distinct set —
  // fine for bounded-cardinality columns (event types); for unbounded
  // ones switch to approx_count_distinct over the frame.
  def windowedDistinct(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-1800000000L, 0)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .withColumn("n_types_30m",
        size(collect_set(col("event_type")).over(w)))
      .orderBy("event_id")
  }

  // KMV-estimated distinct users per event-time day — q89's scale
  // escape hatch made concrete: the exact windowed-distinct carries the
  // full distinct SET as state; the [[graft.functions.KmvDistinctAgg]]
  // typed Aggregator carries k=32 longs per group regardless of
  // cardinality (and, being a mergeable Aggregator, combines map-side
  // and — the reason it lives in this family — runs unchanged under a
  // watermarked STREAMING window: see EventStreams.kmvWindowStream).
  // md5-hashed inputs give the ESTIMATE a SQL closed form, so the
  // oracle checks the sketch's output, not just the exact truth pinned
  // beside it.
  def kmvWindows(s: SparkSession, dir: String): DataFrame = {
    val est = org.apache.spark.sql.functions.udaf(
      new graft.functions.KmvDistinctAgg(32), org.apache.spark.sql.Encoders.scalaLong)
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .select(col("ts"), col("user_id"),
        T.md5Int(concat(lit("kmvu:"), col("user_id").cast("string")), 15)
          .as("__h"))
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(M.oracleRound(est(col("__h")), 4).as("est_users"),
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").cast("date").as("day"),
        col("est_users"), col("n_users"), col("n_events"))
      .orderBy("day")
  }

  // Runtime bloom-filter join pruning — Spark's row-level runtime
  // filter (SPARK-32268): a bloom filter built from the SELECTIVE
  // side's join keys is pushed into the big side's scan filter, so
  // lineitem rows for non-qualifying orders are dropped BEFORE the
  // join shuffle — at 100 TB that is the difference between shuffling
  // the whole fact table and shuffling the ~6 % that can match. The
  // gate runs in a child session (shared context, own conf): broadcast
  // disabled to force the shuffle join the feature exists for, and the
  // size thresholds lowered because the defaults (10 GB application
  // side) are tuned for real clusters, not test-scale parquet — the
  // 100 TB deployment keeps the defaults and gets this plan exactly
  // when it pays. Output aggregates are exact integers (counts +
  // integer-valued quantity sums), so the oracle is a plain join.
  // PlanSpec pins the bloom probe in the lineitem scan.
  def bloomJoin(s: SparkSession, dir: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "32")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "0")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
    val ord = Tables.orders(s2, dir)
      .where(col("o_orderstatus") === "F" && col("o_totalprice") > 400000)
      .select(col("o_orderkey"), col("o_totalprice"))
    val li = Tables.lineitem(s2, dir)
      .select(col("l_orderkey"), col("l_quantity"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  /** Bucketed tables per (session, sf dir): lineitem and orders
    * persisted bucketed+sorted on the order key ONCE (the nightly
    * table-layout decision), so every later join on that key plans
    * with ZERO join-side exchanges. The memo holds table names only. */
  private val bucketStage = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (String, String)]
  private def bucketedTables(s: SparkSession, dir: String): (String, String) =
    bucketStage.getOrElseUpdate((s, dir), {
      val suf = java.lang.Integer.toHexString(dir.hashCode)
      val lt = s"graft_li_$suf"
      val ot = s"graft_ord_$suf"
      graft.sources.Bucketing.writeBucketed(
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_quantity"),
        lt, "l_orderkey", buckets = 8)
      graft.sources.Bucketing.writeBucketed(
        Tables.orders(s, dir)
          .select("o_orderkey", "o_orderstatus", "o_totalprice"),
        ot, "o_orderkey", buckets = 8)
      (lt, ot)
    })

  /** q397's JDBC stage per (session, sf dir): customer + nation loaded
    * ONCE into an embedded in-memory Derby database through the
    * production [[graft.sink.JdbcSink]] (batched writes, capped
    * connections), so the gate's read path exercises
    * [[graft.sources.JdbcSource]] against a real JDBC engine at gate
    * scale — every other gate scans parquet, which left S1's
    * production path validated only by unit-scale round-trip tests
    * (VERDICT r10's one soft gap). The memo holds the JDBC config
    * only; the database lives for the JVM (in-memory Derby). */
  private val derbyStage = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), graft.sources.JdbcConfig]
  private def derbyTables(s: SparkSession, dir: String): graft.sources.JdbcConfig =
    derbyStage.getOrElseUpdate((s, dir), {
      val db = "graftgate" + java.lang.Integer.toHexString(dir.hashCode)
      val url = s"jdbc:derby:memory:$db"
      val conn = java.sql.DriverManager.getConnection(url + ";create=true")
      try {
        val st = conn.createStatement()
        st.execute("CREATE TABLE customer (c_custkey BIGINT, " +
          "c_nationkey INT, c_acctbal DOUBLE)")
        st.execute("CREATE TABLE nation (n_nationkey INT, n_name VARCHAR(32))")
        st.close()
      } finally conn.close()
      val cfg = graft.sources.JdbcConfig(url, user = "", password = "")
      graft.sink.JdbcSink.write(Tables.load(s, dir, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal"), cfg, "customer")
      graft.sink.JdbcSink.write(Tables.load(s, dir, "nation")
        .select("n_nationkey", "n_name"), cfg, "nation")
      cfg
    })

  // q397: the S1 PRODUCTION ingress at gate scale — q03's join-agg
  // shape where both inputs arrive through JdbcSource against the
  // staged Derby database: customer via the auto-probed partitioned
  // range scan (the parallel-ingest path a 1000-executor cluster uses
  // against a primary key), nation via the single-connection dimension
  // read. The acctbal predicate is PUSHED into the JDBC scan
  // (PlanSpec-pinned — the database filters, Spark never sees the
  // non-qualifying rows), and the oracle is the identical join over
  // the parquet the stage was loaded from, so a row lost, duplicated,
  // or type-mangled anywhere in the sink→Derby→source round trip goes
  // red. Money survives exactly: floor(bal·100) longs, never a float
  // sum.
  def jdbcJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val cfg = derbyTables(s, dir)
    val cust = graft.sources.JdbcSource
      .tableAutoPartitioned(s, cfg, "customer", "c_custkey")
      .toDF("c_custkey", "c_nationkey", "c_acctbal")
      .filter(col("c_acctbal") > 1000.0)
    val nat = graft.sources.JdbcSource.table(s, cfg, "nation")
      .toDF("n_nationkey", "n_name")
    cust.join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_cust"),
        min(col("c_custkey")).as("min_key"),
        max(col("c_custkey")).as("max_key"),
        sum(floor(col("c_acctbal") * 100).cast("long")).as("acct_cents"))
      .orderBy("nation")
  }

  // q193: the co-located join the bucketed layout buys — both sides
  // read bucket-aligned files and the sort-merge join plans with NO
  // join-side exchange (PlanSpec pins zero Exchange hashpartitioning).
  // q181 showed the runtime-filtered SHUFFLE join; this is the other
  // end of the design space: pay the layout once, join for free
  // forever. The oracle is the plain join semantics (q88 pattern).
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (lt, ot) = bucketedTables(s, dir)
    // child session with broadcast off (q181 pattern): at test scale
    // the filtered orders side broadcasts, which hides the zero-
    // exchange sort-merge plan this layout exists for; at 100 TB no
    // fact side broadcasts and SMJ is the only candidate anyway
    val s2 = s.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val li = graft.sources.Bucketing.readTable(s2, lt)
    val ord = graft.sources.Bucketing.readTable(s2, ot)
      .where(col("o_orderstatus") === "F")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_orders"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  // Grouped top-k WITHOUT a window — the [[graft.functions.TopKAgg]]
  // mergeable aggregate keeps k (score, id) pairs per group and
  // combines map-side, shipping k rows per group across the wire
  // where `row_number() OVER` shuffles and sorts every row of every
  // group. Gated against the window form's exact answer (ties pinned
  // by id); PlanSpec pins partial+final ObjectHashAggregate and the
  // ABSENCE of WindowExec/global sort over the corpus.
  def groupedTopK(s: SparkSession, dir: String): DataFrame = {
    val top3 = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKAgg(3),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    Tables.documents(s, dir)
      .groupBy("lang")
      .agg(top3(col("n_chars").cast("double"), col("doc_id")).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rnk"),
        col("col._2").as("doc_id"), col("col._1").cast("long").as("n_chars"))
      .orderBy("lang", "rnk")
  }

  // Retention cohort matrix — THE product-analytics table: users
  // cohorted by first-activity day, retention = fraction of the
  // cohort active again at day offset d (0..14). Two user-keyed
  // aggregates (first day, then distinct (cohort, offset, user)) and
  // two tiny keyed joins — no window over users, no per-user sort;
  // at 100 TB the only corpus-sized shuffles are the two user-keyed
  // exchanges, and AQE coalesces the cohort-day frames (≤ days ×
  // offsets rows) for free.
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val first = e.groupBy("user_id").agg(min("d").as("cohort_day"))
    val sizes = first.groupBy("cohort_day")
      .agg(countDistinct(col("user_id")).as("n_cohort"))
    e.join(first, Seq("user_id"))
      .select(col("user_id"), col("cohort_day"),
        datediff(col("d"), col("cohort_day")).as("day_offset"))
      .where(col("day_offset") <= 14)
      .distinct()
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(sizes, Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("n_cohort"),
        M.oracleRound(col("n_active").cast("double")
          / col("n_cohort").cast("double"), 6).as("retention"))
      .orderBy("cohort_day", "day_offset")
  }

  // q195: burst detection — per (event_type, day) count against the
  // TRAILING 7-day baseline (prior days only, never the current one):
  // burst when n > mean + 3sd on 4-dp-PINNED baseline stats (the q90
  // rounded-stats discipline, applied to a trailing frame instead of
  // a group global). The window runs on the (type, day) COUNT table —
  // bounded at types x days rows — never on raw events; the only
  // corpus-sized step is the keyed count.
  def burstDetect(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-7, -1)
    daily
      .withColumn("n_base", count(col("n")).over(w))
      .withColumn("base_mean", M.oracleRound(avg(col("n")).over(w), 4))
      .withColumn("base_sd",
        M.oracleRound(coalesce(stddev_samp(col("n")).over(w), lit(0.0)), 4))
      .where(col("n_base") >= 3)
      .select(col("event_type"), col("day"), col("n"), col("n_base"),
        col("base_mean"), col("base_sd"),
        (col("n").cast("double") > col("base_mean")
          + lit(3.0) * col("base_sd")).as("burst"))
      .orderBy("event_type", "day")
  }

  // HLL-estimated distinct users per event-time day — q155's KMV
  // sibling at CONSTANT state: 64 register bytes per window vs k=32
  // longs, and the estimate error is uniform in cardinality. The
  // typed [[graft.functions.HllDistinctAgg]] buffer matches the
  // relational register pipeline (q167) bit-for-bit, so ONE oracle
  // closed form gates both execution layers; mergeability makes the
  // same aggregate run unchanged under a watermarked streaming
  // window (EventStreams.hllWindowStream).
  def hllWindows(s: SparkSession, dir: String): DataFrame = {
    val est = org.apache.spark.sql.functions.udaf(
      new graft.functions.HllDistinctAgg(6),
      org.apache.spark.sql.Encoders.scalaLong)
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .select(col("ts"), col("user_id"),
        T.md5Int(concat(lit("hllu:"), col("user_id").cast("string")), 15)
          .as("__h"))
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(M.oracleRound(est(col("__h")), 4).as("est_users"),
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").cast("date").as("day"),
        col("est_users"), col("n_users"), col("n_events"))
      .orderBy("day")
  }

  // Per-group z-score normalization (feature scaling): stats via
  // groupBy + broadcast join back — NOT a per-group window, which
  // would sort each group single-partition at scale. The group mean
  // and stddev are PINNED to 4 dp before the residual is computed, so
  // both engines normalize against identical stats (the q58
  // rounded-bounds convention).
  def zscoreNorm(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity").cast("double").as("q"))
    val stats = li.groupBy("l_returnflag")
      .agg(M.oracleRound(avg("q"), 4).as("__mu"),
        M.oracleRound(stddev_samp(col("q")), 4).as("__sd"))
    li.join(broadcast(stats), Seq("l_returnflag"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        M.oracleRound((col("q") - col("__mu")) / col("__sd"), 4).as("z_qty"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // Salted skew join, output-gated: the salt spreads each (hot) order
  // key over 8 reducers and is dropped before output, so the result
  // must equal the PLAIN join — which is exactly what the oracle
  // states. The q86 pattern: the oracle checks the semantics
  // independently, not the formulation.
  def saltedJoinQuery(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val ord = Tables.orders(s, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    Skew.saltedJoin(li, ord, "l_orderkey", saltFactor = 8)
      .orderBy("l_orderkey", "l_linenumber")
  }

  // Two-step funnel (view -> click): per user, the first view and the
  // first click AT OR AFTER it — order-dependent conversion, the shape
  // product analytics runs constantly. Two keyed min-aggregates + one
  // join; no window, no per-user sort.
  def funnelViewClick(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val tv = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t_view"))
    val tc = e.filter(col("event_type") === "click")
      .join(tv, Seq("user_id"))
      .filter(col("us") >= col("t_view"))
      .groupBy("user_id").agg(min("us").as("t_click"))
    tv.join(tc, Seq("user_id"), "left")
      .select("user_id", "t_view", "t_click")
      .orderBy("user_id")
  }

  // Referential-integrity audit: lineitem orderkeys checked against a
  // HALVED orders side (even keys only), so exactly the odd-key rows
  // come back as orphans — the oracle states that key arithmetic
  // directly, independent of the anti-join formulation.
  def fkOrphans(s: SparkSession, dir: String): DataFrame =
    Quality.fkViolations(
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_quantity"),
        Tables.orders(s, dir).filter(col("o_orderkey") % 2 === 0),
        Seq("l_orderkey"), Seq("o_orderkey"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Shared sessionization stage per (session, sf dir): q54 reports it,
    * q94 sweeps it — one keyed sort + aggregate instead of two (the
    * PipelineQueries shared-stage memo contract: immutable sf dirs,
    * no staleness check). */
  private val sessionStage =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def sessionsShared(s: SparkSession, dir: String): DataFrame =
    sessionStage.getOrElseUpdate((s, dir),
      sessionizePipeline(s, dir).localCheckpoint())

  /** Drop the shared-stage memo (Bench warm-up hygiene — see
    * [[graft.operators.PipelineQueries.clearSharedStages]]). */
  def clearSharedStages(): Unit = sessionStage.clear()

  /** Named stage builder for the bench's stage-attribution rows (see
    * [[graft.operators.PipelineQueries.sharedStageBuilders]]). */
  def sharedStageBuilders: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "stage:sessions" -> ((s, d) => { sessionsShared(s, d).count(); () }))

  // Concurrency timeline over the q54 sessions: +1/-1 boundary sweep,
  // global running count via the two-level prefix sum (no
  // single-partition window) — peak-load analytics composed from the
  // sessionizer's output. Rides the shared sessions stage.
  def sessionConcurrency(s: SparkSession, dir: String): DataFrame =
    TimeSeries.concurrencySweep(sessionsShared(s, dir), "start_us", "end_us")
      .orderBy("us")

  // Recency-weighted per-user activity (7-day half-life): the
  // feature-store freshness signal over the raw event stream
  def timeDecayed(s: SparkSession, dir: String): DataFrame =
    TimeSeries.timeDecayedSum(
        Tables.events(s, dir).withColumn("__us", unix_micros(col("ts"))),
        "user_id", "__us", "value", halfLifeUs = 7L * 86400L * 1000000L)
      .orderBy("user_id")

  // Event-type Markov transition matrix: per-user consecutive pairs
  // (ordered by time, ties by event_id — the q54 ordering), counts +
  // row-normalized probabilities. Integer counts and exact integer
  // division inputs, so every cell hash-oracles with no float pins.
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("__us"), col("event_id"))
    val pairs = Tables.events(s, dir)
      .withColumn("__us", unix_micros(col("ts")))
      .withColumn("from_type", lag("event_type", 1).over(w))
      .filter(col("from_type").isNotNull)
      .select(col("from_type"), col("event_type").as("to_type"))
    val counts = pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_type").agg(sum("n").as("__tot"))
    counts.join(totals, Seq("from_type"))
      .withColumn("p", M.oracleRound(col("n") / col("__tot"), 4))
      .select("from_type", "to_type", "n", "p")
      .orderBy("from_type", "to_type")
  }

  // Z-order layout audit: bucket lineitem into 256 quadtree cells of
  // the (partkey, suppkey) Morton key vs 256 contiguous orderkey
  // ranges, and count buckets a point predicate could touch given
  // per-bucket min/max — the file-skip arithmetic behind OPTIMIZE
  // ZORDER, proven with exact integers
  def zorderAudit(s: SparkSession, dir: String): DataFrame =
    Layout.zorderPruningAudit(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey")),
        "l_orderkey", "l_partkey", "l_suppkey",
        cells = 256, predX = 500L, predY = 50L)
      .orderBy("layout")

  /** Empirical-CDF (quantile/rank) normalization of a column — the
    * rank-transform feature scaling (maps each value to `#{v' ≤ v}/n`,
    * i.e. SQL's `cume_dist`): outlier-immune, distribution-free, the
    * standard preprocessing for heavy-tailed features. A global
    * `cume_dist()` window would sort the table on one executor; this
    * rides [[bucketedCumCounts]] instead — per-VALUE histogram (one
    * map-side-combined shuffle), the two-level bucketed cumulative
    * count over the ≤ |distinct| histogram rows, and a value-keyed
    * join back. Integer counts → `__cd` is bit-identical to the
    * naive window. */
  private[graft] def quantileNormalize(df: DataFrame,
      valueCol: String): DataFrame = {
    val hist = df.select(col(valueCol).as("v"))
      .groupBy(lit(1).as("__g"), col("v")).agg(count(lit(1)).as("cnt"))
    val cum = bucketedCumCounts(hist, Seq("__g"))
      .select(col("v").as(valueCol),
        (col("cum").cast("double") / col("n")).as("__cd"))
    df.join(cum, Seq(valueCol))
  }

  // q129: quantile normalization of l_extendedprice over the whole
  // table — every row gets its empirical CDF position, 4-dp rounded
  // (the oracle's cume_dist window restated via the two-level plan)
  def quantileNorm(s: SparkSession, dir: String): DataFrame =
    quantileNormalize(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice")),
        "l_extendedprice")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("price"),
        M.oracleRound(col("__cd"), 4).as("q"))
      .orderBy("l_orderkey", "l_linenumber")

  // One-pass profile of the orders table: per-column null/distinct/
  // min/max facts from a single scan — the DESCRIBE every platform ships
  def profileOrders(s: SparkSession, dir: String): DataFrame =
    Quality.profileTable(Tables.orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))
      .orderBy("col_name")

  // q136's corpus-scale twin gated q52-style: the approx profiler's
  // exact facts (counts, min/max) hash-compare directly, and its HLL++
  // ndv estimate is proven in-bound against the exact distinct — the
  // boolean is the gated fact, the estimate itself stays
  // engine-specific. The operator under test (profileTableApprox) is
  // the Expand-free single-scan path a user runs at 100 TB; only the
  // gate's proof joins the exact profile in.
  def profileOrdersApprox(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val rsd = 0.05
    val approx = Quality.profileTableApprox(Tables.orders(s, dir), cols, rsd)
    val exact = Quality.profileTable(Tables.orders(s, dir), cols)
      .select(col("col_name"), col("ndv").as("__ndv_exact"))
    approx.join(exact, Seq("col_name"))
      .withColumn("ndv_in_bound",
        abs(col("ndv_approx") - col("__ndv_exact")) <=
          greatest(ceil(col("__ndv_exact") * (3 * rsd)), lit(2L)))
      .select(col("col_name"), col("n_nonnull"), col("n_null"),
        col("__ndv_exact").as("ndv"), col("ndv_in_bound"),
        col("min_num"), col("max_num"), col("min_str"), col("max_str"))
      .orderBy("col_name")
  }

  // Join-key skew audit over the two hottest join keys (events.user_id,
  // lineitem.l_orderkey): cardinality, multiplicity extremes, ≥1.2×-mean
  // hot-key count, and histogram-exact Gini — the salting decision input
  def skewAudit(s: SparkSession, dir: String): DataFrame =
    Quality.keySkewAudit(Tables.events(s, dir), "user_id", "events.user_id")
      .unionAll(Quality.keySkewAudit(Tables.lineitem(s, dir), "l_orderkey",
        "lineitem.l_orderkey"))
      .orderBy("key_name")

  // Benford leading-digit audit of extended price — the fraud/data-
  // quality screen; integer-cents leading digit, exact counts
  def benford(s: SparkSession, dir: String): DataFrame =
    Quality.benfordAudit(Tables.lineitem(s, dir), "l_extendedprice")
      .orderBy("digit")

  // FD audit: one held dependency (nation → region, the schema truth)
  // and one violated candidate (customer → order priority) — verdicts
  // + violation counts, all-integer
  def fdChecks(s: SparkSession, dir: String): DataFrame =
    Quality.fdAudit(Tables.nation(s, dir), "nation_region",
        "n_nationkey", "n_regionkey")
      .unionAll(Quality.fdAudit(Tables.orders(s, dir), "cust_priority",
        "o_custkey", "o_orderpriority"))
      .orderBy("fd")

  // k-anonymity / l-diversity release gate over (nation, segment)
  // quasi-identifiers with the account-balance kilobucket as the
  // sensitive attribute — all-integer group facts + violation flags
  def kAnonymity(s: SparkSession, dir: String): DataFrame =
    Quality.kAnonymityAudit(
        Tables.customer(s, dir).withColumn("bal_bucket",
          floor(col("c_acctbal") / 1000.0).cast("long")),
        Seq("c_nationkey", "c_mktsegment"), "bal_bucket", k = 8L, minL = 3L)
      .orderBy("c_nationkey", "c_mktsegment")

  // q161: ε-DP per-source document counts across an ε ladder —
  // deterministic inverse-CDF Laplace noise so the release is exact
  def dpRelease(s: SparkSession, dir: String): DataFrame =
    Quality.dpCountRelease(Tables.documents(s, dir), "source",
        epsilons = Seq(0.25, 1.0, 4.0))
      .orderBy("source", "eps")

  // Latest-version-wins upsert (batch MERGE): refresh the orders
  // snapshot with a derived update batch (every 37th key changes
  // status + price). One union + one keyed window — no outer join,
  // no per-column coalesce. The oracle states the merged RESULT
  // directly (a CASE over the key), so it checks the merge semantics
  // independently instead of mirroring the window formulation.
  def upsertOrders(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_orderstatus", "o_totalprice")
    val base = Tables.orders(s, dir)
      .select(cols.map(col): _*).withColumn("__v", lit(0))
    val updates = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 37 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        M.oracleRound(col("o_totalprice") + lit(10.0), 2).as("o_totalprice"))
      .withColumn("__v", lit(1))
    MergeOps.upsert(base, updates, Seq("o_orderkey"), "__v")
      .select(cols.map(col): _*)
      .orderBy("o_orderkey")
  }

  // q241: additive seasonal decomposition (STL-lite) of the daily
  // count series: trend = centered 7-day moving average (full windows
  // only — edge days carry null trend, the honest convention),
  // seasonal = day-of-week means of the detrended series re-centered
  // to sum to zero, remainder = the rest. Day-of-week comes from pure
  // date arithmetic (days since a fixed Monday, mod 7) — no calendar
  // function, so both engines agree by construction. The decomposition
  // every "is this metric drifting or just weekly" triage starts from;
  // q239's acf(7) says seasonality exists, this one shows it.
  def seasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
    val w = Window.orderBy("day").rowsBetween(-3, 3)
    val trended = daily.coalesce(1)
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("trend",
        when(col("__n") === 7, M.oracleRound(avg(col("x")).over(w), 4)))
      .withColumn("dow",
        pmod(datediff(col("day"), lit("2024-01-01")), lit(7)).cast("int"))
      .withColumn("det", col("x") - col("trend"))
    val sRaw = trended.filter(col("det").isNotNull)
      .groupBy("dow").agg(avg(col("det")).as("s_raw"))
    val sMean = sRaw.agg(avg(col("s_raw")).as("s_mean"))
    val seasonal = sRaw.crossJoin(broadcast(sMean))
      .select(col("dow"),
        M.oracleRound(col("s_raw") - col("s_mean"), 4).as("seasonal"))
    trended.join(broadcast(seasonal), Seq("dow"), "left")
      .select(col("day"), col("x"), col("trend"), col("seasonal"),
        M.oracleRound(col("x") - col("trend") - col("seasonal"), 4)
          .as("remainder"))
      .orderBy("day")
  }

  // q242: null imputation audit — the data-prep step before any
  // numeric model: plant nulls (every 13th event_id), impute by the
  // per-group mean of the SURVIVORS (4-dp-pinned so both engines fill
  // identical constants), report null mass and post-impute sums. One
  // grouped aggregate for the means + one broadcast-join scan; at
  // 100 TB imputation is a free column on the pass that computes the
  // means' partials anyway.
  def meanImpute(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables.events(s, dir)
      .select(col("event_type"),
        when(pmod(col("event_id"), lit(13)) === 0, lit(null))
          .otherwise(col("value")).as("v"))
    val means = planted.groupBy("event_type")
      .agg(M.oracleRound(avg(col("v")), 4).as("fill"))
    planted.join(broadcast(means), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
        max(col("fill")).as("fill"),
        M.oracleRound(sum(coalesce(col("v"), col("fill"))), 4)
          .as("sum_imputed"))
      .orderBy("event_type")
  }

  // q243: sessionization gap design table — what q54's 30-minute gap
  // choice costs: ONE keyed window pass computes every user's
  // inter-event deltas, then each candidate gap is a conditional sum
  // over the same deltas (sessions = users + breaks). The
  // sessions-vs-gap elbow IS how the gap parameter gets picked; four
  // candidates cost one scan, not four.
  def gapDesign(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val dt = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("dt_us", col("us") - lag(col("us"), 1).over(w))
    val agg = dt.agg(
      count(lit(1)).as("n_events"),
      countDistinct(col("user_id")).as("n_users"),
      sum(when(col("dt_us") > 300L * 1000000L, 1L).otherwise(0L)).as("b300"),
      sum(when(col("dt_us") > 900L * 1000000L, 1L).otherwise(0L)).as("b900"),
      sum(when(col("dt_us") > 1800L * 1000000L, 1L).otherwise(0L)).as("b1800"),
      sum(when(col("dt_us") > 3600L * 1000000L, 1L).otherwise(0L)).as("b3600"))
    agg.select(col("n_events"), col("n_users"),
        expr("stack(4, 300, b300, 900, b900, 1800, b1800, 3600, b3600) " +
          "as (gap_s, n_breaks)"))
      .select(col("gap_s"), col("n_events"),
        (col("n_users") + col("n_breaks")).as("n_sessions"),
        M.oracleRound(col("n_events").cast("double") /
          (col("n_users") + col("n_breaks")).cast("double"), 4)
          .as("events_per_session"))
      .orderBy("gap_s")
  }

  // q244: decomposition-residual anomaly flags — the production
  // anomaly detector for seasonal metrics: q241's remainder scored by
  // q219's robust rule (|0.6745·(r − med)/MAD| > 3.5), so a weekly
  // cycle can never read as an anomaly and one true spike cannot
  // inflate its own threshold. Emits only the days with a defined
  // remainder, flagged or not — the rows a monitor would page on are
  // the `is_anomaly` ones. Stats are 4-dp-pinned before the compare.
  def stlAnomaly(s: SparkSession, dir: String): DataFrame = {
    val dec = seasonalDecompose(s, dir)
      .filter(col("remainder").isNotNull)
    val med = dec.agg(M.oracleRound(
      expr("percentile(remainder, 0.5D)"), 4).as("med"))
    val mad = dec.crossJoin(broadcast(med))
      .agg(M.oracleRound(
        expr("percentile(abs(remainder - med), 0.5D)"), 4).as("mad"))
    dec.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .select(col("day"), col("remainder"),
        M.oracleRound(lit(0.6745) * (col("remainder") - col("med")) /
          col("mad"), 4).as("robust_z"),
        (abs(lit(0.6745) * (col("remainder") - col("med")) / col("mad"))
          > 3.5).as("is_anomaly"))
      .orderBy("day")
  }

  // q245: join-fanout audit — the statistic a join planner needs
  // BEFORE the join: the per-key multiplicity distribution of the fact
  // side (orders→lineitem), its max (the row a skewed merge blows up
  // on), and the exact join output cardinality it predicts
  // (Σ fanout·matches — here the 1:N PK case, so Σ fanout). One keyed
  // aggregate + a bounded histogram; the 100 TB lesson is that this
  // pass costs one map-side-combined count and prevents the
  // 10⁹-row-output surprise.
  def fanoutAudit(s: SparkSession, dir: String): DataFrame = {
    val fan = Tables.lineitem(s, dir)
      .groupBy("l_orderkey").agg(count(lit(1)).as("fanout"))
    fan.groupBy("fanout")
      .agg(count(lit(1)).as("n_keys"))
      .crossJoin(broadcast(fan.agg(
        max(col("fanout")).as("max_fanout"),
        sum(col("fanout")).as("join_output_rows"))))
      .select(col("fanout"), col("n_keys"), col("max_fanout"),
        col("join_output_rows"))
      .orderBy("fanout")
  }

  // q240: range-partitioner balance audit — the mechanism inside every
  // global sort / sorted write: boundaries from a cheap deterministic
  // SAMPLE (5% md5 residue — Spark's RangePartitioner samples the same
  // way, just seeded), then the FULL data assigned and counted per
  // range. The table shows what sampling error costs in partition
  // balance (max_share_ppm vs the uniform 1e6/8) — the number that
  // decides sample size for a 100 TB sorted write. Boundaries are
  // 4-dp-pinned sample percentiles; assignment is a broadcast range
  // lookup, map-only over the corpus.
  def rangeSortAudit(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"),
      col("l_linenumber"), col("l_extendedprice").as("v"))
    val sample = li.filter(pmod(T.md5Int(
      concat(lit("rs:"), col("l_orderkey"), lit(":"), col("l_linenumber")),
      8), lit(100)) < 5)
    val bCols = (1 to 7).map(i =>
      M.oracleRound(expr(s"percentile(v, ${i}D / 8)"), 4).as(s"b$i"))
    val bounds = sample.agg(bCols.head, bCols.tail: _*)
    val assigned = li.crossJoin(broadcast(bounds))
      .withColumn("range_id",
        (1 to 7).foldLeft(lit(0)) { (acc, i) =>
          acc + when(col("v") > col(s"b$i"), 1).otherwise(0)
        })
      .groupBy("range_id").agg(count(lit(1)).as("n"))
    val tot = assigned.agg(sum(col("n")).as("total"))
    assigned.crossJoin(broadcast(tot))
      .select(col("range_id"), col("n"),
        M.oracleRound(col("n").cast("double") * 1e6 /
          col("total").cast("double"), 1).as("share_ppm"))
      .orderBy("range_id")
  }

  // q238: local clustering coefficient over the q92 co-purchase graph
  // — cc(v) = 2·T(v)/(deg(v)·(deg(v)−1)), the community-vs-link-farm
  // signal next to the raw triangle counts: same degree-ordered wedge
  // machinery ([[GraphOps.triangleCounts]], O(Σ outdeg⁺²) not
  // O(Σ deg²)), one extra degree aggregate over the canonical edge
  // set, nodes with deg ≥ 2 only (cc undefined below).
  def clusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val pp = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val co = GraphOps.basketPairs(pp, "l_orderkey", "l_partkey")
    val canon = co.distinct()
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val tri = GraphOps.triangleCounts(co)
    deg.filter(col("deg") >= 2)
      .join(tri, Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .select(col("node"), col("deg"), col("n_triangles"),
        M.oracleRound(col("n_triangles").cast("double") * 2.0 /
          (col("deg") * (col("deg") - 1)).cast("double"), 4).as("cc"))
      .orderBy("node")
  }

  // q239: autocorrelation function of the global daily event-count
  // series at lags 1..7 — the seasonality screen that DECIDES q214's
  // lag-7 forecast (a weekly cycle shows as an acf(7) spike). Mean
  // 6-dp-pinned, standard biased-normalization ACF (denominator = full
  // Σ dev², every lag comparable). The series frame is days-sized —
  // the ordered window runs single-partition BY CONTRACT; at corpus
  // scale only the first aggregate sees the events.
  def acfDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
    val m = daily.agg(M.oracleRound(avg(col("x")), 6).as("m"))
    val w = Window.orderBy("day")
    var dev = daily.coalesce(1).crossJoin(broadcast(m))
      .withColumn("d", col("x") - col("m"))
    for (k <- 1 to 7)
      dev = dev.withColumn(s"d$k", lag(col("d"), k).over(w))
    val agg = dev.agg(
      sum(col("d") * col("d")).as("den"),
      (1 to 7).map(k => sum(col("d") * col(s"d$k")).as(s"num$k")): _*)
    val stackExpr = (1 to 7).map(k => s"$k, `num$k`")
      .mkString("stack(7, ", ", ", ") as (lag_k, num)")
    agg.select(col("den"), expr(stackExpr))
      .select(col("lag_k"),
        M.oracleRound(col("num") / col("den"), 4).as("acf"))
      .orderBy("lag_k")
  }

  // q234: salt-factor planner — q144 DETECTS skew, q88 EXECUTES the
  // salted join, this PLANS it: per hot key, the smallest salt that
  // brings its partition share under the uniform task target
  // T = ⌈total/parallelism⌉ (salt = ⌈n/T⌉, residual = ⌈n/salt⌉), all
  // integer ceil-division — no FP thresholds. The table is what an
  // AQE-less 100 TB job computes in a cheap pre-pass before choosing
  // per-key explosion factors.
  def saltPlanner(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("total"),
      max(col("n")).as("before_max"))
    def ceilDiv(a: Column, b: Column): Column = (a + b - 1L) / b
    counts.crossJoin(broadcast(tot))
      .withColumn("target", ceilDiv(col("total"), lit(32L)).cast("long"))
      .withColumn("salt", ceilDiv(col("n"), col("target")).cast("long"))
      .withColumn("after_rows", ceilDiv(col("n"), col("salt")).cast("long"))
      .select(col("user_id"), col("n"), col("target"), col("salt"),
        col("after_rows"), col("before_max"))
      .orderBy(col("n").desc, col("user_id"))
      .limit(10)
  }

  // q235: position-based (U-shaped) attribution — the credit model
  // between last-touch (q63's as-of) and Markov removal: each
  // purchase's preceding touch segment gets 40/20/40 first/middle/last
  // credit (n=1 → 1.0, n=2 → 0.5/0.5); segments with no later purchase
  // stay unconverted and earn nothing. Two keyed windows on the same
  // (user, time) sort + one aggregate — the segment id is a running
  // purchase count, so conversion assignment is a plain equi-join, not
  // a per-conversion scan.
  def attributionCredit(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("purchases_before",
        coalesce(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
    val touches = e.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type"),
        col("purchases_before").as("seg"), col("us"), col("event_id"))
    val conversions = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("purchases_before").as("seg"))
    val segW = Window.partitionBy("user_id", "seg").orderBy("us", "event_id")
    val credited = touches.join(conversions, Seq("user_id", "seg"))
      .withColumn("p", row_number().over(segW))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("user_id", "seg")))
      .withColumn("credit",
        when(col("n") === 1, 1.0)
          .when(col("n") === 2, 0.5)
          .when(col("p") === 1 || col("p") === col("n"), 0.4)
          .otherwise(lit(0.2) / (col("n") - 2).cast("double")))
    credited.groupBy("event_type")
      .agg(count(lit(1)).as("n_touches"),
        M.oracleRound(sum(col("credit")), 4).as("total_credit"))
      .orderBy("event_type")
  }

  // q227: declarative data-contract validation (the expectations
  // suite every ingestion boundary runs): a pinned rule table over
  // lineitem, ALL rules evaluated in ONE scan (each rule is a
  // conditional sum in the same aggregate — never a scan per rule),
  // unpivoted to the (rule, n_checked, n_violations, pass) report.
  // At 100 TB the single-pass property is the operator: 10 rules must
  // not cost 10 scans.
  def dataContract(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def viol(name: String, bad: Column): (String, Column) =
      name -> sum(when(bad, 1L).otherwise(0L))
    val rules = Seq(
      viol("quantity_range", !col("l_quantity").between(1.0, 50.0)),
      viol("discount_range", !col("l_discount").between(0.0, 0.1)),
      viol("shipdate_not_null", col("l_shipdate").isNull),
      viol("returnflag_domain", !col("l_returnflag").isin("R", "A", "N")),
      viol("orderkey_positive", col("l_orderkey") <= 0),
      viol("price_positive", col("l_extendedprice") <= 0.0),
      viol("linenumber_range", !col("l_linenumber").between(1, 7)))
    val aggCols = count(lit(1)).as("n_checked") +:
      rules.map { case (n, c) => c.as(n) }
    val agg = li.agg(aggCols.head, aggCols.tail: _*)
    val stackExpr = rules.map { case (n, _) => s"'$n', `$n`" }
      .mkString(s"stack(${rules.size}, ", ", ", ") as (rule, n_violations)")
    agg.select(col("n_checked"), expr(stackExpr))
      .select(col("rule"), col("n_checked"), col("n_violations"),
        (col("n_violations") === 0L).as("pass"))
      .orderBy("rule")
  }

  // q229: quantile-matched treatment-effect estimate (coarsened exact
  // matching on the pre-period covariate — q225's causal sibling for
  // OBSERVATIONAL data): users binned by pre-period deciles (pinned
  // (x, user_id) ntile order), within-bin treated-vs-control gap,
  // ATT = Σ bins gap weighted by treated mass. Bins missing either
  // arm drop out of the estimate (the CEM pruning rule — documented,
  // deterministic). One user aggregate + one 10-row table.
  def matchedAtt(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-15")
    val per = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(coalesce(sum(when(to_date(col("ts")) >= cut, col("value"))),
          lit(0.0)).as("y"),
        coalesce(sum(when(to_date(col("ts")) < cut, col("value"))),
          lit(0.0)).as("x"))
      .withColumn("treated", pmod(col("user_id"), lit(2)).cast("int"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("x", "user_id")
    val binned = per.coalesce(1).withColumn("bin", ntile(10).over(w))
      .groupBy("bin")
      .agg(sum(when(col("treated") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treated") === 0, 1L).otherwise(0L)).as("n_c"),
        avg(when(col("treated") === 1, col("y"))).as("mt_raw"),
        avg(when(col("treated") === 0, col("y"))).as("mc_raw"))
    val usable = binned.filter(col("n_t") > 0 && col("n_c") > 0)
    val att = usable.agg(M.oracleRound(
      sum(col("n_t") * (col("mt_raw") - col("mc_raw"))) / sum(col("n_t")),
      4).as("att"))
    binned.crossJoin(broadcast(att))
      .select(col("bin"), col("n_t"), col("n_c"),
        M.oracleRound(col("mt_raw"), 4).as("mean_t"),
        M.oracleRound(col("mc_raw"), 4).as("mean_c"),
        M.oracleRound(col("mt_raw") - col("mc_raw"), 4).as("gap"),
        col("att"))
      .orderBy("bin")
  }

  // q223: end-to-end entity resolution — the MDM pipeline: plant
  // perturbed duplicates (every 10th customer gets a copy with a
  // 1-edit name, +1.00 balance, shifted key), then generic
  // block → match → cluster → survive: blocking on
  // (nation, segment, ⌊acctbal/2⌋ ± adjacent) bounds the pair space
  // to the |Δbal| ≤ 2 band, the match rule
  // (levenshtein ≤ 1 ∧ |Δbal| ≤ 2) runs only inside blocks,
  // [[graft.graph.GraphOps.connectedComponents]] closes match chains,
  // and [[MergeOps.goldenRecord]] applies the pinned survivorship
  // policy. The engine does NOT use the planting arithmetic — the
  // oracle independently re-runs blocking+matching+components (the
  // q49 recursive-CTE pattern) and must land on identical golden
  // records, incidental original-vs-original matches included. At
  // 100 TB the blocking key IS the scale design — the balance-bucket
  // refinement keeps per-block volume bounded by the match band, not
  // by the corpus; the q60 cap lesson applies to oversized blocks.
  def goldenRecordCustomers(s: SparkSession, dir: String): DataFrame = {
    val recs = goldenRecordBase(s, dir)
    val pairs = goldenRecordPairs(recs)
    // star contraction, not min-label propagation (r17): the match
    // graph contains PATH-SHAPED chains of incidental lev-1 matches
    // (near-consecutive names within a balance band), whose diameter
    // grows with the corpus — the sf10 probe measured min-label CC
    // failing to converge in 50 rounds (≥ 50-hop chains), while a
    // per-partition union-find plus at most O(log² n) star rounds
    // (none when the pairs fit one partition) is bounded regardless
    // of diameter. Same contract (comp = component's min node id over
    // the same edge set), so golden records are IDENTICAL —
    // oracle-checked at sf0.001 + sf0.01 (the oracle re-derives
    // components independently via recursive CTE).
    val comp = GraphOps.connectedComponentsStar(pairs)
      .select(col("node"), col("comp"))
    val labeled = recs
      .join(comp, recs("c_custkey") === comp("node"), "left")
      .withColumn("cluster", coalesce(col("comp"), col("c_custkey")))
    MergeOps.goldenRecord(labeled, "cluster", "c_custkey",
        "c_name", "c_acctbal")
      .select(col("rec_id"), col("n_members"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"))
      .orderBy("rec_id")
  }

  /** q223's record set (base customers + planted perturbed dups). */
  private[graft] def goldenRecordBase(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir).select("c_custkey", "c_name",
      "c_nationkey", "c_acctbal", "c_mktsegment")
    val dups = base.filter(pmod(col("c_custkey"), lit(10)) === 0)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        concat(col("c_name"), lit("X")).as("c_name"),
        col("c_nationkey"), (col("c_acctbal") + 1.0).as("c_acctbal"),
        col("c_mktsegment"))
    base.unionByName(dups)
  }

  /** q223's candidate-pair stage, exposed package-private so the plan
    * evidence (plans/r16/q223_pairs_after.txt) can be dumped — the
    * final query's explain cannot show it: it executes inside the
    * connectedComponents fixpoint behind a checkpoint boundary. */
  private[graft] def goldenRecordPairs(recs: DataFrame): DataFrame = {
    val left = recs.select(col("c_custkey").as("id_a"),
      col("c_name").as("na"), col("c_nationkey"), col("c_mktsegment"),
      col("c_acctbal").as("ba"))
    val right = recs.select(col("c_custkey").as("id_b"),
      col("c_name").as("nb"), col("c_nationkey"), col("c_mktsegment"),
      col("c_acctbal").as("bb"))
    // r16 de-quadratization (the r15 verdict's one weak mark): the
    // match rule requires |Δbal| ≤ 2, so a matching pair can only live
    // in the SAME or ADJACENT width-2 balance bucket (⌊bal/2⌋ — proof:
    // |a−b| ≤ 2 ⟹ |a/2 − b/2| ≤ 1 ⟹ ⌊⌋ values differ by ≤ 1, floor
    // monotone). Refining the block key to (nation, segment, bucket)
    // therefore generates the EXACT same candidate superset the
    // |Δbal| filter kept anyway, but never materializes the block²
    // volume: candidates drop (range/width)·|blocks| ≈ 344,000× vs the
    // fixed-cardinality (nation, segment) join — (n/125)² pair growth
    // becomes ~n²/344k, i.e. the candidate set now tracks the TRUE
    // match relation (itself quadratic-in-theory only because value
    // ranges are fixed). Two equi-join legs cover the two bucket
    // relations: same-bucket (canonical id_a < id_b) and
    // adjacent-bucket (each unordered pair appears exactly once as
    // (lower-bucket, higher-bucket); ids canonicalized after). Then
    // the ORIGINAL predicates verify each candidate — same pair set,
    // same components, same golden records, oracle-checked. Predicate
    // order: cheap bands first, levenshtein last and via the THRESHOLD
    // form (SPARK-44030: banded O(n·k) instead of O(n·m) full DP,
    // returns -1 above the bound, so `lev(a,b,1) >= 0` ⟺ `lev ≤ 1`).
    val bucketL = left.withColumn("__bkt", floor(col("ba") / 2.0))
    val bucketR = right.withColumn("__bkt", floor(col("bb") / 2.0))
    val verify = abs(col("ba") - col("bb")) <= 2.0 &&
      abs(length(col("na")) - length(col("nb"))) <= 1 &&
      levenshtein(col("na"), col("nb"), 1) >= 0
    val sameBkt = bucketL
      .join(bucketR, Seq("c_nationkey", "c_mktsegment", "__bkt"))
      .filter(col("id_a") < col("id_b") && verify)
      .select("id_a", "id_b")
    val adjBkt = bucketL
      .join(bucketR.withColumn("__bkt", col("__bkt") - 1),
        Seq("c_nationkey", "c_mktsegment", "__bkt"))
      .filter(verify)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    sameBkt.unionByName(adjBkt)
  }

  // q224: item-item collaborative filtering (implicit-feedback cosine,
  // the classic "users who touched i also touched j" sweep): distinct
  // (user, item) interactions from the event props, item pairs via a
  // user-keyed self-join, cosine = cooc / √(nᵢ·nⱼ). Shape: the
  // self-join is co-partitioned on user_id (one shuffle builds both
  // sides) and pair explosion is bounded by per-user DISTINCT items —
  // which the item vocabulary caps at 100 here; at 100 TB the cap is a
  // policy (drop power-users beyond k items — the q60 domain-cap
  // lesson), because one 10⁶-item user is a 10¹²-pair bomb.
  def itemCf(s: SparkSession, dir: String): DataFrame = {
    val ui = Tables.events(s, dir)
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("int").as("item"))
      .distinct()
    val nU = ui.groupBy("item").agg(count(lit(1)).as("n_u"))
    val b = ui.select(col("user_id"), col("item").as("item_b"))
    val pairs = ui.join(b, Seq("user_id"))
      .filter(col("item") < col("item_b"))
      .groupBy(col("item").as("item_a"), col("item_b"))
      .agg(count(lit(1)).as("cooc"))
    pairs
      .join(broadcast(nU.select(col("item").as("item_a"), col("n_u").as("n_a"))), "item_a")
      .join(broadcast(nU.select(col("item").as("item_b"), col("n_u").as("n_b"))), "item_b")
      .select(col("item_a"), col("item_b"), col("cooc"),
        M.oracleRound(col("cooc").cast("double") /
          sqrt((col("n_a") * col("n_b")).cast("double")), 4).as("cos"))
      .orderBy(col("cos").desc, col("item_a"), col("item_b"))
      .limit(20)
  }

  // q225: A/B test with CUPED variance reduction (Deng et al.
  // WSDM'13): user-level experiment metric y (value sum after the
  // cutoff) against the pre-period covariate x (value sum before),
  // variant = user_id parity. Welch t on raw y, then on the CUPED
  // adjustment y' = y − θ·(x − x̄) with θ = cov(x,y)/var(x) pooled —
  // the free sensitivity win every experimentation platform ships.
  // θ and x̄ are 6-dp-pinned so both engines adjust with identical
  // constants. One user-keyed aggregate + two tiny global aggregates.
  def abCuped(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-15")
    val per = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(coalesce(sum(when(to_date(col("ts")) >= cut, col("value"))),
          lit(0.0)).as("y"),
        coalesce(sum(when(to_date(col("ts")) < cut, col("value"))),
          lit(0.0)).as("x"))
      .withColumn("variant", pmod(col("user_id"), lit(2)).cast("int"))
    val fit = per.agg(
      M.oracleRound(covar_samp(col("x"), col("y")) / var_samp(col("x")), 6)
        .as("theta"),
      M.oracleRound(avg(col("x")), 6).as("xbar"))
    val adj = per.crossJoin(broadcast(fit))
      .withColumn("ya", col("y") - col("theta") * (col("x") - col("xbar")))
    val byV = adj.groupBy("variant")
      .agg(count(lit(1)).as("n"), avg(col("y")).as("my"),
        var_samp(col("y")).as("vy"), avg(col("ya")).as("mya"),
        var_samp(col("ya")).as("vya"))
    val a = byV.filter(col("variant") === 0)
      .select(col("n").as("n_a"), col("my").as("my_a"), col("vy").as("vy_a"),
        col("mya").as("mya_a"), col("vya").as("vya_a"))
    val bb = byV.filter(col("variant") === 1)
      .select(col("n").as("n_b"), col("my").as("my_b"), col("vy").as("vy_b"),
        col("mya").as("mya_b"), col("vya").as("vya_b"))
    a.crossJoin(bb).select(
      col("n_a"), col("n_b"),
      M.oracleRound(col("my_a"), 4).as("mean_a"),
      M.oracleRound(col("my_b"), 4).as("mean_b"),
      M.oracleRound((col("my_a") - col("my_b")) /
        sqrt(col("vy_a") / col("n_a") + col("vy_b") / col("n_b")), 4)
        .as("t_raw"),
      M.oracleRound((col("mya_a") - col("mya_b")) /
        sqrt(col("vya_a") / col("n_a") + col("vya_b") / col("n_b")), 4)
        .as("t_cuped"),
      M.oracleRound((lit(1.0) - (col("vya_a") + col("vya_b")) /
        (col("vy_a") + col("vy_b"))) * 100.0, 4).as("var_red_pct"))
  }

  // q219: MAD robust outliers (Iglewicz–Hoaglin modified z, |z|>3.5) —
  // q90's robust twin: median/MAD instead of mean/stddev, so a 1%
  // contamination cannot drag the threshold the way it drags a z-score
  // (50% breakdown vs 0%). Median and MAD are 4-dp-pinned BEFORE the
  // z compute (both engines score against identical constants — no
  // FP-boundary flips). Two grouped aggregates + one broadcast join;
  // the exact percentile swaps for the q58 histogram interpolation at
  // corpus scale, same rounded values.
  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_quantity").cast("double").as("q"))
    val med = li.groupBy("l_returnflag")
      .agg(M.oracleRound(expr("percentile(q, 0.5D)"), 4).as("med"))
    val mad = li.join(broadcast(med), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(M.oracleRound(expr("percentile(abs(q - med), 0.5D)"), 4).as("mad"))
    li.join(broadcast(med), "l_returnflag")
      .join(broadcast(mad), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        max(col("med")).as("med"), max(col("mad")).as("mad"),
        sum(when(abs(lit(0.6745) * (col("q") - col("med")) / col("mad"))
          > 3.5, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("l_returnflag")
  }

  // q220: temporal train/val/test split + entity-leakage audit — the
  // time-based split every forecasting/recsys pipeline uses (random
  // splits leak the future), with the number temporal splits must
  // surface: how many ENTITIES (users) span a split boundary — their
  // later rows are answer-leaks for user-level features. Split by day
  // cutoffs; per split: events, distinct users, and users shared with
  // any LATER split. One scan + three distinct-user frames joined
  // small.
  def temporalSplit(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"),
      when(to_date(col("ts")) < lit("2024-01-20"), "1_train")
        .when(to_date(col("ts")) < lit("2024-01-25"), "2_val")
        .otherwise("3_test").as("split"))
    val perSplit = e.groupBy("split")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"))
    // one user-keyed membership aggregate feeds every leak count —
    // no per-pair distinct joins, fully in-plan
    val member = e.groupBy("user_id").agg(
      max(when(col("split") === "1_train", 1).otherwise(0)).as("t"),
      max(when(col("split") === "2_val", 1).otherwise(0)).as("v"),
      max(when(col("split") === "3_test", 1).otherwise(0)).as("x"))
    val leak = member.agg(
        sum(when(col("t") === 1 && (col("v") === 1 || col("x") === 1), 1L)
          .otherwise(0L)).as("1_train"),
        sum(when(col("v") === 1 && col("x") === 1, 1L).otherwise(0L))
          .as("2_val"),
        lit(0L).as("3_test"))
      .select(expr("stack(3, '1_train', `1_train`, '2_val', `2_val`, " +
        "'3_test', `3_test`) as (split, n_leaked_users)"))
    perSplit.join(broadcast(leak), "split")
      .select("split", "n_events", "n_users", "n_leaked_users")
      .orderBy("split")
  }

  // q213: market-basket co-purchase pairs — the a-priori support-count
  // primitive: parts bought together in one order, support >= 2,
  // top-20 by support. Shape: one self-join co-partitioned on
  // l_orderkey (Catalyst reuses the exchange — ONE shuffle builds both
  // sides), pair explosion bounded by order SIZE squared (TPC-H max 7
  // lines/order), then a pair-keyed count with map-side partials and a
  // total-order top-k. At 100 TB the hazard is basket skew, not data
  // volume — a 10k-line basket would explode quadratically; cap basket
  // size upstream (the df-cap lesson from the shingle index).
  def copurchasePairs(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
    val l2 = li.select(col("l_orderkey"),
      col("l_partkey").as("l_partkey2"))
    li.join(l2, Seq("l_orderkey"))
      .filter(col("l_partkey") < col("l_partkey2"))
      .groupBy(col("l_partkey").as("p1"), col("l_partkey2").as("p2"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 2)
      .orderBy(col("n_orders").desc, col("p1"), col("p2"))
      .limit(20)
  }

  // q214: seasonal-naive forecast skill (MASE, Hyndman & Koehler '06)
  // per event_type over the daily count series: seasonal lag-7
  // forecast MAE scaled by the naive lag-1 MAE — the standard "is
  // there weekly seasonality worth modeling" screen, and the
  // denominator convention that makes error comparable across series.
  // One date-keyed aggregate + two lag windows per event_type key —
  // tiny frames (days × types) after the first aggregate.
  def seasonalMase(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val lagged = daily
      .withColumn("f1", lag(col("n"), 1).over(w))
      .withColumn("f7", lag(col("n"), 7).over(w))
      .filter(col("f7").isNotNull) // score both on the same eval days
    lagged.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        M.oracleRound(avg(abs(col("n") - col("f1"))), 4).as("mae1"),
        M.oracleRound(avg(abs(col("n") - col("f7"))), 4).as("mae7"),
        M.oracleRound(avg(abs(col("n") - col("f7"))) /
          avg(abs(col("n") - col("f1"))), 4).as("mase"))
      .orderBy("event_type")
  }

  // q205: CDC log compaction — replay the events stream as a keyed
  // change log (every 10th event_id a tombstone, the rest upserts;
  // total order (ts, event_id)) into the final per-user snapshot via
  // [[MergeOps.cdcApply]]. A user whose LAST entry is a tombstone
  // vanishes; a tombstone followed by a later upsert re-inserts. The
  // oracle restates last-writer-wins declaratively (QUALIFY over the
  // same total order), independent of the window formulation.
  def cdcApplyEvents(s: SparkSession, dir: String): DataFrame = {
    val log = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"),
        when(pmod(col("event_id"), lit(10)) === 0, lit("D"))
          .otherwise(lit("U")).as("op"))
    MergeOps.cdcApply(log, Seq("user_id"), Seq("us", "event_id"), "op")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"),
        M.oracleRound(col("value"), 4).as("last_value"), col("us"))
      .orderBy("user_id")
  }

  // SCD2-style change intervals: collapse each user's consecutive
  // same-event-type runs into [valid_from, valid_to) validity ranges
  // (gaps-and-islands; valid_to null for the open run)
  def eventIntervals(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    MergeOps.changeIntervals(e, Seq("user_id"), "us", "event_type", "event_id")
      .orderBy("user_id", "valid_from")
  }

  // Snapshot diff (CDC shape): old = orders; new = orders with every
  // 41st key deleted, every surviving 37th key updated (q86's change),
  // and a shifted copy of every 43rd key inserted. The diff must
  // classify exactly those keys — the oracle states the three classes
  // directly from the key arithmetic, independent of the join
  // formulation.
  def snapshotDiffOrders(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_orderstatus", "o_totalprice")
    val old = Tables.orders(s, dir).select(cols.map(col): _*)
    val updated = old.filter(col("o_orderkey") % 41 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 37 === 0, lit("U"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(col("o_orderkey") % 37 === 0,
          M.oracleRound(col("o_totalprice") + lit(10.0), 2))
          .otherwise(col("o_totalprice")).as("o_totalprice"))
    val inserted = old.filter(col("o_orderkey") % 43 === 0)
      .select((col("o_orderkey") + lit(10000000L)).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))
    MergeOps.snapshotDiff(old, updated.unionByName(inserted), Seq("o_orderkey"))
      .orderBy("o_orderkey", "change")
  }

  // Per-node triangle counts over the part co-occurrence graph (parts
  // sharing an order) — the degree-ordered wedge algorithm; the oracle
  // counts the same triangles via the independent ordered-triple
  // (x<y<z) three-way self-join formulation. The gate samples every
  // 10th order: co-occurrence cliques densify the graph quadratically
  // in parts-per-order, and the full sf0.1 graph spends the whole
  // bench budget on wedge volume without exercising anything the
  // sampled graph doesn't.
  def triangleQuery(s: SparkSession, dir: String): DataFrame = {
    val pp = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    // no .distinct() here: triangleCounts canonicalizes and dedups the
    // edge set itself — a pre-dedup would shuffle the densest
    // intermediate twice
    val co = GraphOps.basketPairs(pp, "l_orderkey", "l_partkey")
    GraphOps.triangleCounts(co).orderBy("node")
  }

  // Label-propagation communities over the (sampled, q92-style)
  // symmetrized part<->supplier graph — all-integer label arithmetic,
  // so the unrolled 2-iteration oracle is exact with no rounding pins.
  def lpaQuery(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select((col("l_partkey") * 2).as("p"), (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
      .localCheckpoint()
    val edges = pairs.select(col("p").as("src"), col("sp").as("dst"))
      .union(pairs.select(col("sp").as("src"), col("p").as("dst")))
    GraphOps.labelPropagation(edges, iters = 2, assumeDistinct = true)
      .orderBy("node")
  }

  // k-core (k=4, 4 peels) over the q93 symmetrized part<->supplier
  // graph: the dense-subgraph extraction, all-integer, unrolled into
  // chained CTEs like every graph fixpoint here
  def kCoreQuery(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select((col("l_partkey") * 2).as("p"), (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
      .localCheckpoint()
    val edges = pairs.select(col("p").as("src"), col("sp").as("dst"))
      .union(pairs.select(col("sp").as("src"), col("p").as("dst")))
    GraphOps.kCorePeel(edges, k = 4, iters = 4).orderBy("node")
  }

  // batch sessionization: a new session starts when the gap to the
  // previous event exceeds 30 min — the batch twin of EventStreams'
  // flatMapGroupsWithState sessionizer, fully window-expressible and
  // exactly oracle-checkable. Gap arithmetic is integer microseconds
  // (unix_micros / epoch_us on both sides) so the boundary is exact.
  // Scale: one shuffle on user_id; both windows share the same
  // (user_id | ts, event_id) frame, so Spark plans a single sort.
  def sessionize(s: SparkSession, dir: String): DataFrame =
    sessionsShared(s, dir).orderBy("user_id", "session_id")

  private[graft] def sessionizePipeline(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("__us"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("__us", unix_micros(col("ts")))
      .withColumn("__brk",
        when(col("__us") - lag("__us", 1).over(w) > 1800000000L, 1).otherwise(0))
      .withColumn("session_id",
        sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("int"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        M.oracleRound(sum("value"), 2).as("session_value"),
        min("__us").as("start_us"),
        max("__us").as("end_us"))
  }

  // Fixed-iteration PageRank over the bidirectional part<->supplier
  // graph — the link-quality signal of web-corpus curation, exactly
  // oracled because ranks re-round to 6dp every iteration (see
  // GraphOps.pageRank). Node ids are ENCODED LONGS (part k -> 2k,
  // supplier k -> 2k+1): a web-scale rank loop first maps its string
  // node labels to fixed-width ints for exactly this reason — every
  // per-iteration shuffle then moves 8-byte keys, not variable-length
  // strings (r4 used 'p123'/'s45' labels; encoding the ids halved the
  // query's wall time at sf0.1).
  def pageRankQuery(s: SparkSession, dir: String): DataFrame = {
    // checkpointed: both symmetrizing union arms read the distinct pair
    // set — without it the scan+dedup runs once per arm
    val pairs = Tables.lineitem(s, dir)
      .select((col("l_partkey") * 2).as("p"), (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
      .localCheckpoint()
    val edges = pairs.select(col("p").as("src"), col("sp").as("dst"))
      .union(pairs.select(col("sp").as("src"), col("p").as("dst")))
    // the two union arms are disjoint (even vs odd src) and `pairs` is
    // distinct, so the edge set is distinct by construction
    GraphOps.pageRank(edges, iters = 3, assumeDistinct = true)
      .orderBy("node")
  }

  // Second-moment statistics: sample stddev/variance and pairwise
  // correlation/covariance per group — single-pass merge aggregates on
  // both engines (Spark and DuckDB both use numerically-stable merge
  // formulas; 4-dp rounding absorbs their ulp-level disagreement).
  def statsMoments(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        M.oracleRound(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        M.oracleRound(var_samp(col("l_quantity")), 4).as("var_qty"),
        M.oracleRound(corr(col("l_quantity"), col("l_extendedprice")), 4)
          .as("corr_qp"),
        M.oracleRound(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
          .as("cov_qp"))
      .orderBy("l_returnflag")

  // Backward as-of join over the event stream: for each click, the
  // user's most recent view at or before it (point-in-time join — the
  // operator Spark's built-in joins lack; see operators/AsofJoin).
  // The view side is deduped to one row per (user, time) upstream, per
  // the operator's determinism contract.
  def asofClickView(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select("event_id", "user_id", "us")
    val views = e.filter(col("event_type") === "view")
      .groupBy("user_id", "us").agg(max("event_id").as("view_event_id"))
    AsofJoin.asofBackward(clicks, views, Seq("user_id"), "us", "us")
      .select(col("event_id"), col("user_id"), col("us"),
        col("asof.view_event_id").as("view_event_id"),
        col("asof.us").as("view_us"))
      .orderBy("event_id")
  }

  // q187: forward as-of — each click's NEXT view at-or-after (the
  // next-touch attribution mirror of q63); same union+window shape
  // with the frame reversed
  def asofClickNextView(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select("event_id", "user_id", "us")
    val views = e.filter(col("event_type") === "view")
      .groupBy("user_id", "us").agg(max("event_id").as("view_event_id"))
    AsofJoin.asofForward(clicks, views, Seq("user_id"), "us", "us")
      .select(col("event_id"), col("user_id"), col("us"),
        col("asof.view_event_id").as("view_event_id"),
        col("asof.us").as("view_us"))
      .orderBy("event_id")
  }

  // q183: the SAME point-in-time semantics as q63, executed by the
  // custom Catalyst operator ([[graft.plans.AsofJoinNode]] ->
  // AsofStrategy -> AsofJoinExec): one hash shuffle + sort per side
  // from EnsureRequirements, then a single zipPartitions merge pass —
  // no union row inflation, no window state. Gated against q63's
  // exact oracle; PlanSpec pins AsofJoinExec in the physical plan.
  def asofClickViewNative(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select("event_id", "user_id", "us")
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("r_user_id"), col("us").as("r_us"))
      .agg(max("event_id").as("view_event_id"))
    graft.plans.AsofNative.asofBackward(clicks, views,
        "user_id", "us", "r_user_id", "r_us")
      .select(col("event_id"), col("user_id"), col("us"),
        col("view_event_id"), col("r_us").as("view_us"))
      .orderBy("event_id")
  }

  // Fixed-grid forward-fill resample of the event stream: each user's
  // latest event state at every absolute 6-hour grid instant inside
  // their span — grid generation is a distributed sequence+explode,
  // the fill is the as-of join's one keyed window (see
  // operators/TimeSeries). Events deduped to one row per (user, µs)
  // upstream per the as-of determinism contract.
  def resampleEvents(s: SparkSession, dir: String): DataFrame = {
    val stepUs = 21600000000L // 6 hours
    val ev = Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))
      .groupBy(col("user_id"), col("us"))
      .agg(max("event_id").as("event_id"),
        max_by(col("value"), col("event_id")).as("value"))
    TimeSeries.resampleForwardFill(ev, Seq("user_id"), "us", stepUs)
      .select(col("user_id"), col("grid_t"),
        col("state.event_id").as("last_event_id"),
        col("state.us").as("last_us"),
        col("state.value").as("last_value"))
      .orderBy("user_id", "grid_t")
  }

  // Banded range join: every (click, view) pair of the same user
  // within 30 minutes of each other — the time-window join written as
  // a bucket hash join (see operators/RangeJoin), not the nested-loop
  // plan a bare inequality join would get.
  def rangeClickView(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("us"))
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("us").as("vus"))
    RangeJoin.bandedRangeJoin(clicks, views, Seq("user_id"),
        "us", "vus", maxGap = 1800000000L)
      .select(col("click_id"), col("match.view_id").as("view_id"),
        col("user_id"), (col("us") - col("match.vus")).as("gap_us"))
      .orderBy("click_id", "view_id")
  }

  // Time-based moving aggregate: per-user 30-minute trailing event sum
  // via a RANGE frame over integer microseconds (value-based framing —
  // the complement of q46's row-based frames). A RANGE frame spans
  // ties and gaps correctly where ROWS cannot.
  def movingWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-1800000000L, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"), col("us"),
        M.oracleRound(sum("value").over(w), 2).as("trail_30m"),
        count(lit(1)).over(w).as("n_30m"))
      .orderBy("event_id")
  }

  // Fixed-width histogram: token-length distribution of the corpus in
  // 20 buckets over [0, 2000) — the length-profile every data-quality
  // report starts with. width_bucket has identical bucket arithmetic
  // on both engines.
  def charHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(width_bucket(col("n_chars").cast("double"),
        lit(0.0), lit(2000.0), lit(20)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  // Ranking-window breadth: ntile / percent_rank / cume_dist / lead
  // over a deterministic (price, key) order; the fractional ranks are
  // exact rationals computed identically on both engines, rounded to
  // the engine's 4-dp ranking convention anyway.
  def windowFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, dir).select(
      col("o_custkey"), col("o_orderkey"),
      ntile(4).over(w).as("quartile"),
      M.oracleRound(percent_rank().over(w), 4).as("pct_rank"),
      M.oracleRound(cume_dist().over(w), 4).as("cume"),
      M.oracleRound(coalesce(lead(col("o_totalprice"), 1).over(w), lit(0.0)), 2)
        .as("next_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // R6/O6 — set-CSV derivation shape: first row (by order) defines the
  // set, remaining rows become members with 1..N sort weights
  // (concept_set_csv_creator.py:54-77)
  def setDerive(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("r_regionkey")
    val idx = Tables.region(s, dir).withColumn("rn", row_number().over(w))
    val setRow = idx.filter(col("rn") === 1)
      .select(col("r_name").as("concept"))
    idx.filter(col("rn") > 1)
      .crossJoin(broadcast(setRow))
      .select(col("concept"), col("r_name").as("member"),
        lit("CONCEPT-SET").as("member_type"),
        (col("rn") - 1).cast("int").as("sort_weight"))
      .orderBy("sort_weight")
  }

  // q246: histogram mutual information between two categorical columns
  // (lang × source on documents) — the feature-association audit that
  // tells a pipeline whether a stratification key actually carries
  // signal. ONE full-data shuffle builds the joint histogram; the
  // marginals, total and per-cell PMI contributions are all window
  // sums over that tiny (|langs|·|sources|) cell frame, so the cost at
  // 100 TB is exactly one keyed count. Contributions are 4-dp-pinned
  // before the mi_total sum so both engines add identical constants.
  def mutualInfo(s: SparkSession, dir: String): DataFrame = {
    val joint = Tables.documents(s, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("n_xy"))
      .coalesce(1) // cell frame: |langs|·|sources| rows
    val wAll = Window.partitionBy()
    val wX = Window.partitionBy("lang")
    val wY = Window.partitionBy("source")
    val cells = joint
      .withColumn("n", sum(col("n_xy")).over(wAll))
      .withColumn("n_x", sum(col("n_xy")).over(wX))
      .withColumn("n_y", sum(col("n_xy")).over(wY))
      .withColumn("pmi", M.oracleRound(
        log(col("n_xy").cast("double") * col("n") /
          (col("n_x").cast("double") * col("n_y"))), 4))
      .withColumn("contrib", M.oracleRound(
        (col("n_xy").cast("double") / col("n")) *
          log(col("n_xy").cast("double") * col("n") /
            (col("n_x").cast("double") * col("n_y"))), 4))
    cells
      .withColumn("mi_total",
        M.oracleRound(sum(col("contrib")).over(wAll), 4))
      .select(col("lang"), col("source"), col("n_xy"), col("pmi"),
        col("contrib"), col("mi_total"))
      .orderBy("lang", "source")
  }

  // q247: two-window mean-shift change detection over the daily event
  // count — the level-shift monitor CUSUM approximates, expressed with
  // symmetric ROWS frames so the recursion-free form is shuffle-exact
  // in any engine: for each day, mean of the 7 preceding days vs mean
  // of the current+6 following, flag |post − pre| > 25% of pre. The
  // daily frame is tiny at any corpus scale (it's one row per day), so
  // the single-partition window is a documented constant, not a skew
  // hazard; the only full-data work is the one keyed daily count.
  def meanShift(s: SparkSession, dir: String): DataFrame =
    meanShiftFromDaily(Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("x")))

  /** The q247 detector over an ALREADY-MAINTAINED `(day, x)` daily
    * frame — split out so the streaming twin
    * ([[graft.streaming.EventStreams.dailyCountStream]] maintains the
    * frame under a watermark; lag/lead over event time is not
    * streamable directly) and the batch gate share one detector. */
  def meanShiftFromDaily(daily: DataFrame): DataFrame = {
    val wPre = Window.orderBy("day").rowsBetween(-7, -1)
    val wPost = Window.orderBy("day").rowsBetween(0, 6)
    daily.coalesce(1)
      .withColumn("n_pre", count(lit(1)).over(wPre))
      .withColumn("n_post", count(lit(1)).over(wPost))
      .withColumn("pre", M.oracleRound(avg(col("x")).over(wPre), 4))
      .withColumn("post", M.oracleRound(avg(col("x")).over(wPost), 4))
      // filter AFTER the windows: dropping edge days must not shift
      // the frames the means are computed over
      .filter(col("n_pre") === 7 && col("n_post") === 7)
      .withColumn("shift", M.oracleRound(col("post") - col("pre"), 4))
      .select(col("day"), col("x").cast("long").as("n_events"),
        col("pre"), col("post"), col("shift"),
        (abs(col("shift")) > lit(0.25) * col("pre")).as("is_shift"))
      .orderBy("day")
  }

  // q248: Theil–Sen robust trend estimate over the daily event count —
  // the median of all pairwise slopes, immune to the outlier days that
  // wreck a least-squares fit. The O(days²) pair join runs on the
  // ALREADY-AGGREGATED daily frame (one row per day — ~4k pairs per
  // quarter-year regardless of corpus size), so the full-data cost is
  // again just the daily count; slope is 4-dp-pinned before the
  // intercept pass so both engines fit the same line.
  def theilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
      .withColumn("d", datediff(col("day"), lit("2024-01-01"))
        .cast("double"))
    val a = daily.select(col("d").as("d1"), col("x").as("x1"))
    val b = daily.select(col("d").as("d2"), col("x").as("x2"))
    val slopes = a.join(broadcast(b), col("d1") < col("d2"))
      .select(((col("x2") - col("x1")) / (col("d2") - col("d1")))
        .as("slope"))
    val fit = slopes.agg(
      count(lit(1)).as("n_pairs"),
      M.oracleRound(expr("percentile(slope, 0.5D)"), 4).as("slope"))
    daily.crossJoin(broadcast(fit))
      .agg(
        count(lit(1)).as("n_days"),
        max(col("n_pairs")).as("n_pairs"),
        max(col("slope")).as("slope"),
        M.oracleRound(
          expr("percentile(x - slope * d, 0.5D)"), 4).as("intercept"))
  }

  // q260: HyperANF — the neighborhood function N(r) = Σ_v |B(v,r)|
  // estimated with per-vertex HLL sketches (Boldi–Vigna), over the
  // q93 symmetrized part↔supplier graph. THE 100 TB graph-distance
  // algorithm: exact frontier sets explode combinatorially, but a
  // vertex's ball sketch is 64 registers and the iteration is just
  // "pointwise-max my neighbors' sketches" — one join + one grouped
  // max per radius, state linear in |V|, mergeable across shards.
  // Reuses the q167 HLL machinery (md5-derived registers, p=6), so
  // every register and the alpha·m²/Z estimate have the same ANSI-SQL
  // closed form; each radius is localCheckpointed exactly like the
  // other graph fixpoints. reached_90 marks the effective-diameter
  // radius (first r with N(r) ≥ 90% of N(3)).
  def hyperAnf(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select((col("l_partkey") * 2).as("p"), (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
      .localCheckpoint()
    val edges = pairs.select(col("p").as("src"), col("sp").as("dst"))
      .union(pairs.select(col("sp").as("src"), col("p").as("dst")))
      .localCheckpoint() // probed once per radius
    val nodes = edges.select(col("src").as("node")).distinct()
    var regs = TextCorpus.hllRegisters(
      nodes.select(col("node"), col("node").cast("string").as("item")),
      "node", "item", p = 6).localCheckpoint()
    def nf(r: Int, rg: DataFrame): DataFrame =
      TextCorpus.hllEstimate(rg, "node", p = 6)
        .agg(count(lit(1)).as("n_nodes"),
          M.oracleRound(sum(col("est")), 4).as("nf_est"),
          M.oracleRound(avg(col("est")), 4).as("avg_ball"))
        .select(lit(r).as("r"), col("n_nodes"), col("nf_est"),
          col("avg_ball"))
    // out is checkpointed per radius (≤ 4 rows) so superseded register
    // frames are provably dead and can be freed — otherwise the final
    // lazy plan references every radius's node-sized checkpoint and
    // they all stay pinned until GC (the q73 round-10 lesson)
    var out = nf(0, regs).localCheckpoint()
    var r = 1
    while (r <= 3) {
      val nbr = edges
        .join(regs.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), col("bucket"), col("rho"))
      val prevRegs = regs
      regs = regs.union(nbr)
        .groupBy("node", "bucket").agg(max(col("rho")).as("rho"))
        .localCheckpoint()
      out = out.unionByName(nf(r, regs)).localCheckpoint()
      org.apache.spark.sql.GraftPlanBridge.freeLocalCheckpoint(prevRegs)
      r += 1
    }
    // out's lineage is cut, so the graph-sized stages are dead here
    org.apache.spark.sql.GraftPlanBridge.freeLocalCheckpoint(regs)
    org.apache.spark.sql.GraftPlanBridge.freeLocalCheckpoint(edges)
    org.apache.spark.sql.GraftPlanBridge.freeLocalCheckpoint(pairs)
    out
      .withColumn("reached_90", col("nf_est") >=
        lit(0.9) * max(col("nf_est")).over(Window.partitionBy()))
      .orderBy("r")
  }

  // q261: Weisfeiler–Leman color refinement (2 rounds) — the graph
  // fingerprint behind isomorphism tests and GNN expressiveness
  // audits: c₀ = degree, c_{k+1} = hash(c_k : sorted neighbor c_k
  // multiset). Each round is one join + one grouped sorted-concat —
  // the same shuffle shape as LPA — and the md5-derived color hash
  // keeps every round ANSI-SQL-reproducible. Output: the color-class
  // SIZE histogram per round (the refinement signature); classes can
  // only split, so n_classes is non-decreasing (spec-pinned).
  def wlRefinement(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select((col("l_partkey") * 2).as("p"), (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
      .localCheckpoint()
    val edges = pairs.select(col("p").as("src"), col("sp").as("dst"))
      .union(pairs.select(col("sp").as("src"), col("p").as("dst")))
      .localCheckpoint()
    var colors = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    var hists = colors.groupBy("c").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("class_size"))
      .agg(count(lit(1)).as("n_classes"))
      .select(lit(0).as("iter"), col("class_size"), col("n_classes"))
    var k = 1
    while (k <= 2) {
      val nbr = edges
        .join(colors.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(concat_ws(",", sort_array(collect_list(col("c"))))
          .as("sig"))
      colors = colors.join(nbr, "node")
        .select(col("node"),
          T.md5Int(concat(col("c").cast("string"), lit(":"), col("sig")),
            15).as("c"))
        .localCheckpoint()
      hists = hists.unionByName(
        colors.groupBy("c").agg(count(lit(1)).as("sz"))
          .groupBy(col("sz").as("class_size"))
          .agg(count(lit(1)).as("n_classes"))
          .select(lit(k).as("iter"), col("class_size"), col("n_classes")))
      k += 1
    }
    hists.orderBy("iter", "class_size")
  }

  // q267: OLS trend + regression diagnostics over the daily event
  // count — the parametric twin of q248's Theil–Sen, completing the
  // trend toolbox with what Theil–Sen can't give: R² (fit quality)
  // and the Durbin–Watson statistic (residual autocorrelation — the
  // "is a trend line even the right model" alarm; DW ≈ 2 means
  // independent residuals). Everything from exact window sums over
  // the tiny daily frame plus one lag pass on the residuals.
  def olsDiagnostics(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
      .withColumn("d", datediff(col("day"), lit("2024-01-01"))
        .cast("double"))
      .coalesce(1)
    val w = Window.partitionBy()
    val wOrd = Window.orderBy("day")
    val fit = daily
      .withColumn("n", count(lit(1)).over(w).cast("double"))
      .withColumn("dbar", avg(col("d")).over(w))
      .withColumn("xbar", avg(col("x")).over(w))
      .withColumn("sdd",
        sum((col("d") - col("dbar")) * (col("d") - col("dbar"))).over(w))
      .withColumn("sdx",
        sum((col("d") - col("dbar")) * (col("x") - col("xbar"))).over(w))
      .withColumn("sxx",
        sum((col("x") - col("xbar")) * (col("x") - col("xbar"))).over(w))
      .withColumn("b", col("sdx") / col("sdd"))
      .withColumn("a", col("xbar") - col("b") * col("dbar"))
      .withColumn("e", col("x") - col("a") - col("b") * col("d"))
    fit
      .withColumn("eprev", lag(col("e"), 1).over(wOrd))
      .select(
        col("n").cast("long").as("n_days"),
        M.oracleRound(col("b"), 4).as("slope"),
        M.oracleRound(col("a"), 4).as("intercept"),
        col("e"), col("eprev"), col("sxx"))
      .groupBy("n_days", "slope", "intercept")
      .agg(
        M.oracleRound(lit(1.0) -
          sum(col("e") * col("e")) / max(col("sxx")), 4).as("r_sq"),
        M.oracleRound(
          sum(pow(col("e") - col("eprev"), 2)) /
            sum(col("e") * col("e")), 4).as("durbin_watson"))
  }

  // q268: generalized-ESD outlier scan (3 unrolled rounds) over the
  // daily event count — the iterated Grubbs test MAD (q219) cannot
  // replace when outliers mask each other: each round z-scores the
  // REMAINING days, extracts the most extreme one, and recomputes.
  // Rounds are unrolled exactly like the graph fixpoints; the flag
  // uses the fixed |z| > 3 rule (stated contract — no t-table in
  // ANSI SQL). The daily frame is one row per day at any corpus
  // scale, so the only full-data work is the keyed count.
  def esdOutliers(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    def zTop(daily: DataFrame): (DataFrame, DataFrame) = {
      val n = count(lit(1)).over(w).cast("double")
      val scored = daily
        .withColumn("mu", avg(col("x")).over(w))
        .withColumn("sd", sqrt(
          (sum(col("x") * col("x")).over(w) -
            n * col("mu") * col("mu")) / (n - 1)))
        .withColumn("z", abs(col("x") - col("mu")) / col("sd"))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("z").desc, col("day"))))
      (scored.filter(col("rn") === 1)
        .select(col("day"), col("x").cast("long").as("n_events"),
          M.oracleRound(col("z"), 4).as("z"),
          (col("z") > 3.0).as("is_outlier")),
        scored.filter(col("rn") =!= 1).select("day", "x"))
    }
    var daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
      .coalesce(1)
      .localCheckpoint()
    var out: DataFrame = null
    var r = 1
    while (r <= 3) {
      val (top, rest) = zTop(daily)
      val row = top.withColumn("round", lit(r))
        .select("round", "day", "n_events", "z", "is_outlier")
      out = if (out == null) row else out.unionByName(row)
      daily = rest.localCheckpoint()
      r += 1
    }
    out.orderBy("round")
  }

  // q270: discrete-time survival / hazard life table over user
  // activity — the churn analysis next to q177's retention cohorts:
  // a user's observed lifetime is last-minus-first active day; users
  // still active on the corpus' final day are right-CENSORED (they
  // contribute to risk sets but never to churn counts — the
  // distinction naive retention tables get wrong). hazard(k) =
  // churners at age k / users at risk at age k; S(k) = Π(1−h),
  // computed as exp(Σ ln(1−h)) over the running window. Scale shape:
  // ONE per-user aggregate (the only corpus-sized step), then a
  // lifetime histogram whose row count is the age range — suffix
  // sums and the survival product are windows on that tiny frame.
  def survivalHazard(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    val users = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("dn"))
    val withEnd = users
      .withColumn("m", max(col("dn")).over(w))
      .withColumn("life", datediff(col("dn"), col("d0")))
      .withColumn("censored", col("dn") === col("m"))
    val hist = withEnd.groupBy("life")
      .agg(count(lit(1)).as("n"),
        sum(when(!col("censored"), 1L).otherwise(0L)).as("n_churn"))
      .coalesce(1)
    val wSuffix = Window.orderBy(col("life"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.orderBy(col("life"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("n_risk", sum(col("n")).over(wSuffix))
      .withColumn("hazard_raw",
        col("n_churn").cast("double") / col("n_risk"))
      .withColumn("survival_raw",
        exp(sum(log(lit(1.0) - col("hazard_raw"))).over(wCum)))
      .select(col("life").as("age_days"), col("n_risk"), col("n_churn"),
        M.oracleRound(col("hazard_raw"), 4).as("hazard"),
        M.oracleRound(col("survival_raw"), 4).as("survival"))
      .orderBy("age_days")
  }

  // q251: Spearman rank correlation between per-user activity volume
  // and mean event value — the monotone-association audit Pearson
  // can't give (robust to the heavy-tailed n_events distribution).
  // Full-data cost is ONE keyed aggregate; the rank windows run on the
  // per-user frame, bounded by |users| — at a scale where that frame
  // itself is huge, the two-level bucket-offset rank (q143's pattern)
  // replaces the global window. avg_value is 6-dp-pinned BEFORE
  // ranking so tie groups are well-defined identically in both
  // engines; fractional (average) ranks make ties exact.
  def spearman(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).cast("double").as("n_events"),
        M.oracleRound(avg(col("value")), 6).as("avg_value"))
      .coalesce(1) // per-user frame; see scaladoc for the big-frame form
    def frank(c: String): Column =
      rank().over(Window.orderBy(col(c))).cast("double") +
        (count(lit(1)).over(Window.partitionBy(col(c))).cast("double") -
          1.0) / 2.0
    perUser
      .withColumn("rx", frank("n_events"))
      .withColumn("ry", frank("avg_value"))
      .agg(
        count(lit(1)).as("n_users"),
        M.oracleRound(corr(col("rx"), col("ry")), 4).as("rho_spearman"),
        M.oracleRound(corr(col("n_events"), col("avg_value")), 4)
          .as("rho_pearson"))
  }

  // q252: Kendall tau-b over the daily event count — the
  // concordance-based trend test that pairs with q248's Theil–Sen
  // slope (same O(days²) pair join on the already-aggregated daily
  // frame; corpus-size-independent). Days are distinct so ties exist
  // only in x; tau-b's tie correction uses exactly those.
  def kendallTau(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
      .withColumn("d", datediff(col("day"), lit("2024-01-01"))
        .cast("double"))
    val a = daily.select(col("d").as("d1"), col("x").as("x1"))
    val b = daily.select(col("d").as("d2"), col("x").as("x2"))
    val sgns = a.join(broadcast(b), col("d1") < col("d2"))
      .select(signum(col("x2") - col("x1")).as("sgn"))
    sgns
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("sgn") > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(col("sgn") < 0, 1L).otherwise(0L)).as("discordant"),
        sum(when(col("sgn") === 0, 1L).otherwise(0L)).as("ties_x"))
      .select(col("n_pairs"), col("concordant"), col("discordant"),
        col("ties_x"),
        M.oracleRound(
          (col("concordant") - col("discordant")).cast("double") /
            sqrt((col("n_pairs") - col("ties_x")).cast("double") *
              col("n_pairs").cast("double")), 4).as("tau_b"))
  }

  // q253: Welch's unequal-variance t — each source's doc length vs
  // the REST of the corpus, the per-slice distribution-drift alarm.
  // Everything derives from per-group (n, Σx, Σx²): n_chars is
  // integer-valued so the sums are EXACT in double (< 2^53), making
  // mean/variance/t bit-identical across engines before the 4-dp pin;
  // the complement's stats come from windowed grand totals over the
  // |sources|-row frame — full-data cost is one keyed aggregate.
  def welchTtest(s: SparkSession, dir: String): DataFrame = {
    val x = col("n_chars").cast("double")
    val g = Tables.documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).cast("double").as("n_g"),
        sum(x).as("s_g"), sum(x * x).as("ss_g"))
      .coalesce(1)
    val w = Window.partitionBy()
    g.withColumn("n", sum(col("n_g")).over(w))
      .withColumn("s", sum(col("s_g")).over(w))
      .withColumn("ss", sum(col("ss_g")).over(w))
      .withColumn("mean_g", col("s_g") / col("n_g"))
      .withColumn("var_g",
        (col("ss_g") - col("s_g") * col("s_g") / col("n_g")) /
          (col("n_g") - 1))
      .withColumn("n_c", col("n") - col("n_g"))
      .withColumn("mean_c", (col("s") - col("s_g")) / col("n_c"))
      .withColumn("var_c",
        (col("ss") - col("ss_g") -
          (col("s") - col("s_g")) * (col("s") - col("s_g")) / col("n_c")) /
          (col("n_c") - 1))
      .withColumn("va", col("var_g") / col("n_g"))
      .withColumn("vb", col("var_c") / col("n_c"))
      .select(col("source"), col("n_g").cast("long").as("n_docs"),
        M.oracleRound(col("mean_g"), 4).as("mean_src"),
        M.oracleRound(col("mean_c"), 4).as("mean_rest"),
        M.oracleRound((col("mean_g") - col("mean_c")) /
          sqrt(col("va") + col("vb")), 4).as("t_stat"),
        M.oracleRound(
          pow(col("va") + col("vb"), 2) /
            (pow(col("va"), 2) / (col("n_g") - 1) +
              pow(col("vb"), 2) / (col("n_c") - 1)), 4).as("df_welch"))
      .orderBy("source")
  }

  // q254: one-way ANOVA F of doc length across sources — the global
  // "does source matter at all" gate in front of q253's per-source
  // probes. Same exact-sums trick; SSB/SSW are window sums over the
  // |sources|-row frame, so the full-data cost is one keyed aggregate.
  def anovaF(s: SparkSession, dir: String): DataFrame = {
    val x = col("n_chars").cast("double")
    val g = Tables.documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).cast("double").as("n_g"),
        sum(x).as("s_g"), sum(x * x).as("ss_g"))
      .coalesce(1)
    val w = Window.partitionBy()
    g.withColumn("n", sum(col("n_g")).over(w))
      .withColumn("s", sum(col("s_g")).over(w))
      .withColumn("ss", sum(col("ss_g")).over(w))
      .withColumn("k", count(lit(1)).over(w).cast("double"))
      .withColumn("mean", col("s") / col("n"))
      .withColumn("ssb_g",
        col("n_g") * pow(col("s_g") / col("n_g") - col("mean"), 2))
      .withColumn("ssw_g",
        col("ss_g") - col("s_g") * col("s_g") / col("n_g"))
      .withColumn("ssb", sum(col("ssb_g")).over(w))
      .withColumn("ssw", sum(col("ssw_g")).over(w))
      .limit(1)
      .select(
        col("k").cast("long").as("n_groups"),
        col("n").cast("long").as("n_docs"),
        (col("k") - 1).cast("long").as("df1"),
        (col("n") - col("k")).cast("long").as("df2"),
        M.oracleRound((col("ssb") / (col("k") - 1)) /
          (col("ssw") / (col("n") - col("k"))), 4).as("f_stat"),
        M.oracleRound(col("ssb") / (col("ssb") + col("ssw")), 4)
          .as("eta_sq"))
  }

  // q255: cross-correlation function between the click and purchase
  // daily counts at lags −7..+7 — the lead/lag discovery probe (does
  // purchase volume follow click volume?). Two keyed daily counts,
  // then a lag × day join on the TINY daily frames (the 15-row lag
  // table and the ~90-row purchase frame both broadcast); corr per
  // lag over integer-valued doubles.
  def ccfDaily(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def daily(t: String, cn: String): DataFrame = ev
      .filter(col("event_type") === t)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as(cn))
      .withColumn("d", datediff(col("day"), lit("2024-01-01")))
    val x = daily("click", "x").select(col("d"), col("x"))
    val y = daily("purchase", "y").select(col("d").as("dy"), col("y"))
    val lags = s.range(-7, 8).select(col("id").cast("int").as("lag"))
    x.crossJoin(broadcast(lags))
      .join(broadcast(y), col("dy") === col("d") + col("lag"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_days"),
        M.oracleRound(corr(col("x"), col("y")), 4).as("ccf"))
      .orderBy("lag")
  }

  // q256: per-source language-diversity panel — Shannon entropy,
  // Simpson concentration, and the effective language count
  // (exp(H), "how many languages is this source REALLY"), the corpus
  // mixture-health dashboard row. One keyed (source, lang) count;
  // shares and entropies live on the |sources|·|langs| cell frame.
  def diversity(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .groupBy("source", "lang").agg(count(lit(1)).cast("double").as("c"))
      .coalesce(1)
    val w = Window.partitionBy("source")
    cells
      .withColumn("tot", sum(col("c")).over(w))
      .withColumn("p", col("c") / col("tot"))
      .groupBy("source")
      .agg(
        max(col("tot")).cast("long").as("n_docs"),
        count(lit(1)).as("n_langs"),
        M.oracleRound(-sum(col("p") * log(col("p"))), 4).as("shannon"),
        M.oracleRound(sum(col("p") * col("p")), 4).as("simpson"),
        M.oracleRound(exp(-sum(col("p") * log(col("p")))), 4)
          .as("eff_langs"))
      .orderBy("source")
  }

  // q257: delete-one-group jackknife of the corpus mean doc length —
  // per source, the leave-that-source-out mean, plus the jackknife
  // standard error over the G leave-one-out estimates with the
  // classic (G−1)/G factor (stated contract: the unweighted
  // delete-one-GROUP jackknife — the influence audit "which source
  // moves the corpus mean"). Exact integer sums again; both window
  // passes run on the |sources|-row frame.
  def jackknifeMean(s: SparkSession, dir: String): DataFrame = {
    val x = col("n_chars").cast("double")
    val g = Tables.documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).cast("double").as("n_g"), sum(x).as("s_g"))
      .coalesce(1)
    val w = Window.partitionBy()
    g.withColumn("n", sum(col("n_g")).over(w))
      .withColumn("s", sum(col("s_g")).over(w))
      .withColumn("gcnt", count(lit(1)).over(w).cast("double"))
      .withColumn("loo_mean",
        (col("s") - col("s_g")) / (col("n") - col("n_g")))
      .withColumn("loo_bar", avg(col("loo_mean")).over(w))
      .withColumn("jk_se",
        sqrt((col("gcnt") - 1) / col("gcnt") *
          sum(pow(col("loo_mean") - col("loo_bar"), 2)).over(w)))
      .select(col("source"), col("n_g").cast("long").as("n_docs"),
        M.oracleRound(col("loo_mean"), 4).as("loo_mean"),
        M.oracleRound(col("s") / col("n"), 4).as("full_mean"),
        M.oracleRound(col("jk_se"), 4).as("jk_se"))
      .orderBy("source")
  }

  // q273: Benjamini-Hochberg FDR control over the q253 per-source Welch
  // tests — the multiple-comparisons layer a metrics dashboard needs
  // once it runs one drift test PER slice (at 10k slices, α=0.05 alone
  // false-alarms ~500 of them; BH caps the EXPECTED false-discovery
  // fraction instead). p-values are the Chernoff tail bound
  // exp(−t²/2) — a monotone transform of |t| that both engines compute
  // from the same exact-sum t, 6-dp-pinned BEFORE the step-up
  // comparison so an engine ulp can never flip a reject decision; the
  // BH cutoff max{i : p(i) ≤ i/m·α} is a window max over the
  // |sources|-row frame. Full-data cost: the q253 keyed aggregate.
  def fdrBh(s: SparkSession, dir: String, alpha: Double = 0.05): DataFrame = {
    val x = col("n_chars").cast("double")
    val g = Tables.documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).cast("double").as("n_g"),
        sum(x).as("s_g"), sum(x * x).as("ss_g"))
      .coalesce(1)
    val w = Window.partitionBy()
    val scored = g
      .withColumn("n", sum(col("n_g")).over(w))
      .withColumn("s", sum(col("s_g")).over(w))
      .withColumn("ss", sum(col("ss_g")).over(w))
      .withColumn("m", count(lit(1)).over(w).cast("double"))
      .withColumn("mean_g", col("s_g") / col("n_g"))
      .withColumn("var_g",
        (col("ss_g") - col("s_g") * col("s_g") / col("n_g")) /
          (col("n_g") - 1))
      .withColumn("n_c", col("n") - col("n_g"))
      .withColumn("mean_c", (col("s") - col("s_g")) / col("n_c"))
      .withColumn("var_c",
        (col("ss") - col("ss_g") -
          (col("s") - col("s_g")) * (col("s") - col("s_g")) / col("n_c")) /
          (col("n_c") - 1))
      .withColumn("t_stat",
        (col("mean_g") - col("mean_c")) /
          sqrt(col("var_g") / col("n_g") + col("var_c") / col("n_c")))
      .withColumn("p_bound",
        M.oracleRound(exp(-col("t_stat") * col("t_stat") / 2), 6))
    val ranked = scored
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("p_bound"), col("source"))))
      .withColumn("bh_thresh",
        M.oracleRound(col("rnk") * lit(alpha) / col("m"), 6))
      .withColumn("cutoff", max(when(col("p_bound") <= col("bh_thresh"),
        col("rnk"))).over(w))
    ranked.select(col("source"),
        M.oracleRound(col("t_stat"), 4).as("t_stat"),
        col("p_bound"), col("rnk"), col("bh_thresh"),
        (col("rnk") <= coalesce(col("cutoff"), lit(0))).as("rejected"))
      .orderBy("rnk")
  }

  // q278: l-diversity audit — the companion to q128's k-anonymity: a
  // quasi-identifier group can be large (k-anonymous) yet still leak
  // its sensitive attribute if every member SHARES it. Per QI cell
  // (lang × 500-char length band) over the corpus: distinct-count of
  // the sensitive column (source), the majority share (how recoverable
  // the attribute is), and the l ≥ 2 gate. Two keyed aggregates —
  // (cell, source) then cell — both map-side combined; nothing wider
  // than the cell count at any scale.
  def lDiversity(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .select(col("lang"),
        floor(col("n_chars") / 500.0).cast("long").as("len_band"),
        col("source"))
      .groupBy("lang", "len_band", "source")
      .agg(count(lit(1)).as("c"))
    cells.groupBy("lang", "len_band")
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("l_div"),
        M.oracleRound(max(col("c")).cast("double") / sum(col("c")), 4)
          .as("top_share"))
      .withColumn("diverse", col("l_div") >= 2)
      .orderBy("lang", "len_band")
  }

  // q279: hash-relabeling permutation test for the click-vs-purchase
  // mean-value gap. The null is simulated with 64 DETERMINISTIC
  // pseudo-permutations: under seed s, event e joins pseudo-arm A iff
  // md5(s:e) mod n < n_a — a random relabeling preserving arm sizes in
  // expectation (documented contract: the Monte-Carlo relabeling null,
  // not the exact-permutation null; at 64 seeds the resolution floor
  // is p = 1/65). p = (1 + #{s : |diff_s| ≥ |obs|}) / (1 + S) with
  // both sides 4-dp-pinned before the ≥. Scale shape: the seed
  // cross-join is a constant ×64 on the event stream feeding ONE
  // map-side-combined aggregate keyed by (seed, pseudo-arm) — 128
  // partial rows per partition, no shuffle wider than 128 rows.
  def permutationTest(s: SparkSession, dir: String): DataFrame = {
    val seeds = 64
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("event_type"), col("value"))
    val obs = ev.groupBy("event_type").agg(
        count(lit(1)).cast("double").as("n"), sum(col("value")).as("sv"))
      .agg(
        sum(when(col("event_type") === "click", col("n"))).as("n_a"),
        sum(when(col("event_type") === "purchase", col("n"))).as("n_b"),
        sum(when(col("event_type") === "click", col("sv"))).as("s_a"),
        sum(when(col("event_type") === "purchase", col("sv"))).as("s_b"))
      .withColumn("obs_diff",
        M.oracleRound(abs(col("s_a") / col("n_a") - col("s_b") / col("n_b")), 4))
    val seedDf = s.range(0, seeds).select(col("id").cast("int").as("seed"))
    val perm = ev.crossJoin(broadcast(seedDf))
      .crossJoin(broadcast(obs.select(col("n_a"), col("n_b"))))
      .withColumn("arm_a",
        T.md5Int(concat(lit("perm:"), col("seed"), lit(":"), col("event_id")), 8)
          .cast("double") % (col("n_a") + col("n_b")) < col("n_a"))
      .groupBy("seed")
      .agg(
        sum(when(col("arm_a"), col("value"))).as("sa"),
        sum(when(col("arm_a"), 1.0).otherwise(0.0)).as("na"),
        sum(when(!col("arm_a"), col("value"))).as("sb"),
        sum(when(!col("arm_a"), 1.0).otherwise(0.0)).as("nb"))
      .withColumn("d",
        M.oracleRound(abs(col("sa") / col("na") - col("sb") / col("nb")), 4))
    perm.crossJoin(broadcast(obs))
      .agg(
        first(col("n_a")).cast("long").as("n_click"),
        first(col("n_b")).cast("long").as("n_purchase"),
        first(col("obs_diff")).as("obs_diff"),
        count(lit(1)).as("n_perms"),
        sum(when(col("d") >= col("obs_diff"), 1L).otherwise(0L)).as("n_ge"))
      .withColumn("p_value", M.oracleRound(
        (col("n_ge") + 1).cast("double") / (col("n_perms") + 1), 4))
  }

  // q280: group-sequential A/B monitoring — the day-by-day cumulative
  // z-path of the even-vs-odd-user click-value gap against an
  // O'Brien-Fleming-SHAPED boundary z_α·sqrt(T/t) (spends almost no
  // alpha early, relaxes to z_α at the horizon — the standard "peek
  // daily without inflating false positives" discipline; the constant
  // uses z_α = 1.96, documented as the OBF shape, not an exact
  // alpha-spending solve). All cumulative stats are exact integer-
  // weighted sums over the |days|-row frame; the full-data cost is one
  // (day, variant) keyed aggregate.
  def groupSequential(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .groupBy(to_date(col("ts")).as("day"),
        pmod(col("user_id"), lit(2)).cast("int").as("variant"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("value")).as("sv"), sum(col("value") * col("value")).as("ssv"))
      .groupBy("day")
      .agg(
        sum(when(col("variant") === 1, col("n"))).as("nt_d"),
        sum(when(col("variant") === 1, col("sv"))).as("st_d"),
        sum(when(col("variant") === 1, col("ssv"))).as("sst_d"),
        sum(when(col("variant") === 0, col("n"))).as("nc_d"),
        sum(when(col("variant") === 0, col("sv"))).as("sc_d"),
        sum(when(col("variant") === 0, col("ssv"))).as("ssc_d"))
      .coalesce(1)
    val wc = Window.partitionBy().orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy()
    val cum = daily
      .withColumn("nt", sum(col("nt_d")).over(wc))
      .withColumn("st", sum(col("st_d")).over(wc))
      .withColumn("sst", sum(col("sst_d")).over(wc))
      .withColumn("nc", sum(col("nc_d")).over(wc))
      .withColumn("sc", sum(col("sc_d")).over(wc))
      .withColumn("ssc", sum(col("ssc_d")).over(wc))
      // the monitor starts once BOTH arms hold >= 2 observations —
      // keeps the pooled variance well-defined (no 0/0 whose IEEE
      // handling the two engines need not share); t re-indexes over
      // the monitored days
      .filter(col("nt") >= 2 && col("nc") >= 2)
      .withColumn("t_idx", row_number().over(Window.partitionBy().orderBy("day")))
      .withColumn("t_max", count(lit(1)).over(wall).cast("double"))
      // pooled two-sample variance from the cumulative sums
      .withColumn("s2",
        ((col("sst") - col("st") * col("st") / col("nt")) +
          (col("ssc") - col("sc") * col("sc") / col("nc"))) /
          (col("nt") + col("nc") - 2))
      .withColumn("z",
        (col("st") / col("nt") - col("sc") / col("nc")) /
          sqrt(col("s2") * (lit(1.0) / col("nt") + lit(1.0) / col("nc"))))
      .withColumn("bound", lit(1.96) * sqrt(col("t_max") / col("t_idx")))
    cum.select(col("day"),
        col("nt").cast("long").as("n_treat"),
        col("nc").cast("long").as("n_ctrl"),
        M.oracleRound(col("z"), 4).as("z_stat"),
        M.oracleRound(col("bound"), 4).as("boundary"),
        (M.oracleRound(abs(col("z")), 4) > M.oracleRound(col("bound"), 4))
          .as("crossed"))
      .orderBy("day")
  }

  // q281: quantile treatment effect — the distributional view the mean
  // gap (q225/q280) cannot give: per decile p ∈ {0.1..0.9}, the
  // treated-vs-control purchase-value quantile gap. Exact interpolated
  // percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`, the gate
  // q50 already pins); one aggregate per arm over the purchase slice,
  // posexplode of the 9-element result — nothing beyond two 9-value
  // rows after the aggregate.
  def qteDeciles(s: SparkSession, dir: String): DataFrame = {
    val ps = (1 to 9).map(_ / 10.0)
    val ev = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("variant", pmod(col("user_id"), lit(2)).cast("int"))
    val q = ev.groupBy("variant")
      .agg(percentile(col("value"),
        array(ps.map(lit): _*)).as("qs"))
      .select(col("variant"), posexplode(col("qs")).as(Seq("i", "q")))
    q.groupBy("i")
      .agg(
        M.oracleRound(sum(when(col("variant") === 1, col("q"))), 4)
          .as("q_treat"),
        M.oracleRound(sum(when(col("variant") === 0, col("q"))), 4)
          .as("q_ctrl"),
        M.oracleRound(sum(when(col("variant") === 1, col("q"))) -
          sum(when(col("variant") === 0, col("q"))), 4).as("qte"))
      .withColumn("p", M.oracleRound((col("i") + 1).cast("double") / 10, 1))
      .select("p", "q_treat", "q_ctrl", "qte")
      .orderBy("p")
  }

  // q287: Simpson's-paradox audit — the correlation of event value vs
  // hour-of-day, globally and per event-type slice, flagging slices
  // whose (4-dp-pinned) correlation sign OPPOSES the global sign: the
  // classic aggregation trap a metrics review must surface before
  // anyone trusts the pooled trend. Pearson r from exact conditional
  // sums — one keyed aggregate per slice plus window grand totals over
  // the |slices|-row frame.
  def simpsonAudit(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    def corr(n: Column, sx: Column, sy: Column, sxx: Column, syy: Column,
        sxy: Column): Column =
      (n * sxy - sx * sy) /
        sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    val g = Tables.events(s, dir)
      .select(col("event_type"), hour(col("ts")).cast("double").as("x"),
        col("value").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .coalesce(1)
    g.withColumn("r_slice", M.oracleRound(
        corr(col("n"), col("sx"), col("sy"), col("sxx"), col("syy"),
          col("sxy")), 4))
      .withColumn("r_global", M.oracleRound(
        corr(sum(col("n")).over(w), sum(col("sx")).over(w),
          sum(col("sy")).over(w), sum(col("sxx")).over(w),
          sum(col("syy")).over(w), sum(col("sxy")).over(w)), 4))
      .select(col("event_type"), col("n").cast("long").as("n_events"),
        col("r_slice"), col("r_global"),
        (col("r_slice") * col("r_global") < 0).as("sign_flip"))
      .orderBy("event_type")
  }

  // q274: geohash-grid radius join — customers to suppliers within
  // 500 km, coordinates derived deterministically from the md5 key
  // hash (lat ∈ [−60,60), lon ∈ [−180,180), 0.1° resolution) so the
  // oracle reproduces them exactly. The grid is the scale story: each
  // customer lands in ONE 5°×10° cell, each supplier is exploded to
  // its 3×3 cell neighborhood (a constant ×9 on the SMALL side), and
  // the join is a plain equi-join on the cell key — never the lat/lon
  // cross product. Cell sizes dominate the 500 km radius everywhere on
  // the band (5° lat ≈ 555 km; 10° lon ≥ 557 km at |lat| ≤ 60), so the
  // neighborhood is provably complete; the exact haversine then
  // filters candidates inside the join. A supplier copy matches a
  // given customer cell at most once (nine distinct offsets), so the
  // candidate stream is duplicate-free by construction. Output keeps
  // ALL customers (left join) — the empty neighborhood is an answer,
  // not an absent row. At 100 TB: equi-join shuffles on the cell key;
  // the ×9 supplier explode broadcasts if small, else co-partitions.
  def geoNearJoin(s: SparkSession, dir: String): DataFrame = {
    val radiusKm = 500.0
    val earthR = 6371.0088
    def latOf(salt: String, k: Column): Column =
      (T.md5Int(concat(lit(s"${salt}lat:"), k.cast("string")), 8) % 1200L)
        .cast("double") / 10.0 - 60.0
    def lonOf(salt: String, k: Column): Column =
      (T.md5Int(concat(lit(s"${salt}lon:"), k.cast("string")), 8) % 3600L)
        .cast("double") / 10.0 - 180.0
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), latOf("geo:c:", col("c_custkey")).as("clat"),
        lonOf("geo:c:", col("c_custkey")).as("clon"))
      .withColumn("gy", floor((col("clat") + 60.0) / 5.0))
      .withColumn("gx", floor((col("clon") + 180.0) / 10.0))
    val supp = Tables.supplier(s, dir)
      .select(col("s_suppkey"), latOf("geo:s:", col("s_suppkey")).as("slat"),
        lonOf("geo:s:", col("s_suppkey")).as("slon"))
      .withColumn("sy", floor((col("slat") + 60.0) / 5.0))
      .withColumn("sx", floor((col("slon") + 180.0) / 10.0))
      .withColumn("off", explode(array(
        (for (dy <- -1 to 1; dx <- -1 to 1)
          yield struct(lit(dy).cast("long").as("dy"),
            lit(dx).cast("long").as("dx"))): _*)))
      .withColumn("gy", col("sy") + col("off.dy"))
      // lon wraps at ±180: neighbor cells wrap modulo the 36-col grid
      .withColumn("gx", pmod(col("sx") + col("off.dx"), lit(36L)))
      .drop("off", "sy", "sx")
    val rad = math.Pi / 180.0
    val dist = lit(2.0 * earthR) * asin(sqrt(
      pow(sin((col("slat") - col("clat")) * (rad / 2)), 2) +
        cos(col("clat") * rad) * cos(col("slat") * rad) *
          pow(sin((col("slon") - col("clon")) * (rad / 2)), 2)))
    // round-before-compare: the radius gate and the min both see the
    // 3-dp-pinned distance, so a last-ulp sin() difference between
    // engines can never flip a membership decision. No broadcast hint
    // on the 9×-exploded supplier side: at bench scale AQE broadcasts
    // it anyway, and at 100 TB a forced broadcast of a corpus-sized
    // frame would OOM — the grid keys co-partition either way.
    val near = cust.join(supp, Seq("gy", "gx"))
      .withColumn("d_km", M.oracleRound(dist, 3))
      .filter(col("d_km") <= radiusKm)
      .groupBy("c_custkey")
      .agg(count(lit(1)).as("n_near"), min(col("d_km")).as("min_km"))
    Tables.customer(s, dir).select("c_custkey")
      .join(near, Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("n_near"), lit(0L)).as("n_near"), col("min_km"))
      .orderBy("c_custkey")
  }

  // q289: Mann–Whitney U (rank-sum) test, click vs view values — the
  // nonparametric AB-metric companion to the Welch panel (q253):
  // robust to the heavy-tailed engagement metrics parametric tests
  // misread. Midranks handle ties exactly: over the per-value count
  // histogram, 2·midrank(v) = 2·cumBefore(v) + cnt(v) + 1 is an
  // INTEGER, so the rank sum (Σ cnt_a·2·midrank, halved once at the
  // end), the tie-correction Σ(t³−t), and U carry no float-fold
  // order dependence — both engines divide identical integers. The
  // cumulative count rides [[bucketedCumCounts]] (two-level prefix
  // sum — no single-partition sort of the value histogram at 100 TB);
  // z uses the normal approximation with tie correction.
  def mannWhitney(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .groupBy(lit(0).as("g"), col("value").as("v"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("cnt_a"))
    val tot = bucketedCumCounts(hist, Seq("g"))
      .withColumn("two_r",
        col("cnt_a") * (lit(2) * (col("cum") - col("cnt")) + col("cnt") + 1))
      .agg(sum(col("cnt_a")).as("n1"),
        sum(col("cnt") - col("cnt_a")).as("n2"),
        sum(col("two_r")).as("two_r1"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties"))
    val u1 = col("two_r1").cast("double") / 2 -
      col("n1").cast("double") * (col("n1") + 1) / 2
    val mu = col("n1").cast("double") * col("n2") / 2
    val vr = col("n1").cast("double") * col("n2") / 12 *
      ((col("n1") + col("n2") + 1) -
        col("ties").cast("double") /
          ((col("n1") + col("n2")) * (col("n1") + col("n2") - 1.0)))
    tot.select(col("n1").cast("long").as("n1"),
      col("n2").cast("long").as("n2"),
      M.oracleRound(u1, 4).as("u1"),
      M.oracleRound((u1 - mu) / sqrt(vr), 4).as("z"))
  }

  // q290: two-sample Cramér–von Mises criterion, click vs view — the
  // whole-distribution shift gate next to q289's location test and
  // q222's sup-gap KS (on a different table): T integrates the SQUARED
  // ECDF gap over every pooled observation, so it weights persistent
  // moderate divergence that a single-sup statistic underreports. The
  // accumulated sum is EXACT-INTEGER: S = Σ_v cnt_v·(cumA·n2−cumB·n1)²
  // carried in decimal(38,0) (HUGEINT on the oracle side), so the one
  // corpus-sized fold has no float-order dependence and the final
  // T = S/(n1·n2)/(n1+n2)² is single-value double arithmetic from the
  // same integers on both engines. Cumulatives ride
  // [[bucketedCumCounts]] — no single-partition sort of the value
  // histogram. t_ratio normalizes by E[T] under H0 = (1+1/N)/6.
  def cvmTest(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .groupBy(lit(0).as("g"), col("value").as("v"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("ca"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("cb"))
    val cumA = bucketedCumCounts(
      hist.select(col("g"), col("v"), col("ca").as("cnt")), Seq("g"))
      .select(col("v"), col("cum").as("cum_a"), col("n").as("n1"))
    val cumB = bucketedCumCounts(
      hist.select(col("g"), col("v"), col("cb").as("cnt")), Seq("g"))
      .select(col("v"), col("cum").as("cum_b"), col("n").as("n2"))
    val gapD = (col("cum_a") * col("n2") - col("cum_b") * col("n1"))
      .cast("decimal(19,0)")
    val tot = cumA.join(cumB, "v")
      .join(hist.select(col("v"), (col("ca") + col("cb")).as("cnt")), "v")
      .withColumn("term", gapD * gapD * col("cnt").cast("decimal(9,0)"))
      .groupBy(col("n1"), col("n2"))
      .agg(sum(col("term")).as("s"))
    val nn = (col("n1") + col("n2")).cast("double")
    val t = col("s").cast("double") /
      (col("n1").cast("double") * col("n2")) / (nn * nn)
    tot.select(col("n1"), col("n2"),
      M.oracleRound(t, 4).as("cvm_t"),
      M.oracleRound(t / ((lit(1.0) + lit(1.0) / nn) / 6.0), 4)
        .as("t_ratio"))
  }

  // q291: Kruskal–Wallis H across ALL five event types — the k-sample
  // extension of q289's two-sample rank test (the "did ANY variant
  // move the metric?" omnibus an A/B/n readout starts with). Midranks
  // over the pooled per-value histogram keep every rank integer
  // (2·midrank = 2·cumBefore + cnt + 1, cumulative via
  // [[bucketedCumCounts]]); the per-group Σ R_g²/n_g — the one place a
  // float fold across groups could diverge between engines — is
  // decomposed as exact integer division + bounded remainders:
  // (2R_g)² div 4n_g sums in integers, the k sub-1.0 remainder terms
  // contribute < k to a ~1e13 sum, so H's 4-dp rounding can never
  // flip on fold order. Tie correction divides by 1 − Σ(t³−t)/(N³−N).
  def kruskalWallis(s: SparkSession, dir: String): DataFrame = {
    val tcnt = Tables.events(s, dir)
      .groupBy(col("event_type").as("et"), col("value").as("v"))
      .agg(count(lit(1)).as("tcnt"))
    val pooled = tcnt.groupBy(lit(0).as("g"), col("v"))
      .agg(sum(col("tcnt")).as("cnt"))
    val cum = bucketedCumCounts(pooled, Seq("g"))
      .select(col("v"), col("cnt"), col("cum"))
    val grp = tcnt.join(cum, "v")
      .withColumn("two_r_c", col("tcnt") *
        (lit(2) * (col("cum") - col("cnt")) + col("cnt") + 1))
      .groupBy("et")
      .agg(sum(col("tcnt")).as("ng"), sum(col("two_r_c")).as("two_r"))
    val sq = col("two_r").cast("decimal(19,0)") *
      col("two_r").cast("decimal(19,0)")
    val parts = grp
      .withColumn("sq", sq)
      .withColumn("bg", (col("ng") * 4).cast("decimal(19,0)"))
      .agg(count(lit(1)).as("k"),
        sum(expr("CAST(sq div bg AS BIGINT)")).as("sum_q"),
        sum((col("sq") % col("bg")).cast("double") /
          col("bg").cast("double")).as("sum_r"))
    val ties = pooled.groupBy()
      .agg(sum(col("cnt")).as("n"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties"))
    val nD = col("n").cast("double")
    val h = lit(12.0) / (nD * (nD + 1)) *
      (col("sum_q").cast("double") + col("sum_r")) - lit(3.0) * (nD + 1)
    parts.crossJoin(broadcast(ties))
      .select(col("k"), col("n"),
        M.oracleRound(h, 4).as("h"),
        M.oracleRound(h / (lit(1.0) -
          col("ties").cast("double") / (nD * nD * nD - nD)), 4)
          .as("h_adj"))
  }

  // q292: CUSUM changepoint scan over the daily event series — the
  // level-shift detector the dataset-freshness monitors run: C_k =
  // Σ_{i≤k}(x_i − x̄), argmax|C_k| locates the most likely change
  // day. Maximized in INTEGERS (|n·S_k − k·S_n| — cross-multiplied
  // so x̄ never appears as a float inside the argmax), ties pinned to
  // the earliest day. The daily frame is ≤ a few thousand rows at any
  // corpus scale (it is keyed by calendar day), so the one ordered
  // window runs on a coalesced micro-frame — the corpus-sized work is
  // the single map-side-combined daily count.
  def cusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .coalesce(1)
    val w = Window.partitionBy(lit(0)).orderBy("day")
    val scan = daily
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("sk", sum("x").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(0))))
      .withColumn("sn", sum("x").over(Window.partitionBy(lit(0))))
      .withColumn("igap", abs(col("n") * col("sk") - col("k") * col("sn")))
    scan.groupBy(col("n"), col("sn"))
      .agg(max(col("igap")).as("max_gap"))
      .join(scan, Seq("n", "sn"))
      .filter(col("igap") === col("max_gap"))
      .groupBy(col("n"), col("sn"), col("max_gap"))
      .agg(min(col("day")).as("change_day"))
      .select(col("n").as("n_days"), col("sn").as("n_events"),
        col("change_day"),
        M.oracleRound(col("max_gap").cast("double") / col("n"), 4)
          .as("cusum_max"))
  }
  // q298: t-closeness audit over the q278 quasi-groups — the privacy
  // ladder's next rung after k-anonymity (q128) and l-diversity
  // (q278): a group can be diverse yet still leak if its sensitive
  // distribution diverges from the global one. For the categorical
  // sensitive attribute the EMD reduces to total variation distance,
  // computed INTEGER-EXACT: t·(2·n_g·N) = Σ_s |c_gs·N − C_s·n_g|, so
  // the fold is a sum of longs and the ≤0.3 policy gate is the
  // division-free 10·Σ ≤ 6·n_g·N — no float can flip a verdict. One
  // cell aggregate + two tiny broadcast margins, same shape as q291's
  // contingency grid (zero cells included via the margin cross join).
  def tCloseness(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .select(col("lang"),
        floor(col("n_chars") / 500.0).cast("long").as("len_band"),
        col("source"))
      .groupBy("lang", "len_band", "source")
      .agg(count(lit(1)).as("c"))
    val glob = cells.groupBy("source").agg(sum("c").as("cs"))
    val tot = cells.agg(sum("c").as("nn"))
    val gcnt = cells.groupBy("lang", "len_band").agg(sum("c").as("ng"))
    gcnt.crossJoin(broadcast(glob))
      .join(cells, Seq("lang", "len_band", "source"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("num", abs(col("c") * col("nn") - col("cs") * col("ng")))
      .groupBy("lang", "len_band")
      .agg(max(col("ng")).as("n_docs"), sum(col("num")).as("sn"),
        max(col("nn")).as("n_total"))
      .select(col("lang"), col("len_band"), col("n_docs"),
        M.oracleRound(col("sn").cast("double") /
          (lit(2.0) * col("n_docs") * col("n_total")), 4).as("t_dist"),
        (col("sn") * 10 <= col("n_docs") * col("n_total") * 6)
          .as("meets_t"))
      .orderBy("lang", "len_band")
  }

  // q299: Wilcoxon signed-rank test on PAIRED daily click-vs-view
  // revenue — the matched-pairs member the panel lacked (q289 is the
  // unpaired twin; pairing by day removes day-level seasonality the
  // unpaired test dilutes). Daily sums are fixed-point cents (the
  // 2-dp generator contract), so the paired differences are INTEGERS:
  // zero diffs drop per the standard treatment, |d| midranks come from
  // the same 2·midrank = 2·cumBefore + cnt + 1 integer identity via
  // [[bucketedCumCounts]], and W⁺, the tie term Σ(t³−t), μ and σ² are
  // all ratios of exact integers — no float-fold order dependence.
  // The daily frame is calendar-bounded (≤ a few thousand rows at any
  // corpus scale); the corpus-sized work is one map-side-combined
  // daily aggregate.
  def wilcoxonSigned(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "click",
          round(col("value") * 100).cast("long")).otherwise(0L)).as("ca"),
        sum(when(col("event_type") === "view",
          round(col("value") * 100).cast("long")).otherwise(0L)).as("cb"))
      .withColumn("d", col("ca") - col("cb"))
    val nz = daily.filter(col("d") =!= 0)
    val hist = nz.groupBy(lit(0).as("g"), abs(col("d")).as("v"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("cpos"))
    val agg = bucketedCumCounts(hist, Seq("g"))
      .withColumn("two_w",
        col("cpos") * (lit(2) * (col("cum") - col("cnt")) + col("cnt") + 1))
      .agg(sum(col("cnt")).as("n"), sum(col("two_w")).as("two_wp"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties"))
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("n_days"))))
    val nD = col("n").cast("double")
    val w = col("two_wp").cast("double") / 2
    val mu = nD * (nD + 1) / 4
    val vr = nD * (nD + 1) * (nD * 2 + 1) / 24 -
      col("ties").cast("double") / 48
    agg.select(col("n_days"), col("n").as("n_nonzero"),
      M.oracleRound(w, 4).as("w_plus"),
      M.oracleRound((w - mu) / sqrt(vr), 4).as("z"))
  }

  // q300: Brown–Forsythe (median-centered Levene) homogeneity-of-
  // variance test across all five event types — the precondition
  // check for q254's pooled-variance ANOVA: equal means say nothing
  // when the spreads differ, and BF is the robust (median-anchored)
  // form. Everything before the final F is INTEGER-EXACT: values are
  // fixed-point cents, each group's doubled median x_(⌊(n+1)/2⌋) +
  // x_(⌊n/2⌋+1) comes off the per-group cumulative histogram
  // ([[bucketedCumCounts]] — no per-group sort), the centered scores
  // z = |2x − med2| are integers, and the between/within sums of
  // squares decompose as exact integer division + sub-1.0 remainders
  // (the q291 trick), so F's 4-dp rounding cannot flip on fold order.
  def leveneBF(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type").as("et"),
        round(col("value") * 100).cast("long").as("cents"))
    val hist = ev.groupBy(col("et"), col("cents").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val cum = bucketedCumCounts(hist, Seq("et"))
    val med2 = cum
      .withColumn("r1", expr("(n + 1) div 2"))
      .withColumn("r2", expr("n div 2 + 1"))
      .groupBy("et")
      .agg(max(col("n")).as("ng"),
        (min(when(col("cum") >= col("r1"), col("v"))) +
          min(when(col("cum") >= col("r2"), col("v")))).as("med2"))
    val z = ev.join(med2, "et")
      .select(col("et"), col("ng"),
        abs(col("cents") * 2 - col("med2")).as("z"))
    val grp = z.groupBy("et")
      .agg(max(col("ng")).as("ng"), sum(col("z")).as("sz"),
        sum(col("z") * col("z")).as("szz"))
    val parts = grp
      .withColumn("sq", col("sz").cast("decimal(19,0)") *
        col("sz").cast("decimal(19,0)"))
      .withColumn("bg", col("ng").cast("decimal(19,0)"))
      .agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum(col("sz")).as("t"), sum(col("szz")).as("szz_all"),
        sum(expr("CAST(sq div bg AS BIGINT)")).as("sum_q"),
        sum((col("sq") % col("bg")).cast("double") /
          col("bg").cast("double")).as("sum_r"))
    val tD = col("t").cast("decimal(19,0)")
    val withG = parts
      .withColumn("t2", tD * tD)
      .withColumn("nd", col("n").cast("decimal(19,0)"))
      .withColumn("gq", expr("CAST(t2 div nd AS BIGINT)"))
      .withColumn("gr", (col("t2") % col("nd")).cast("double") /
        col("n").cast("double"))
    val groupTerm = col("sum_q").cast("double") + col("sum_r")
    val ssb = groupTerm - (col("gq").cast("double") + col("gr"))
    val ssw = col("szz_all").cast("double") - groupTerm
    withG.select(col("k"), col("n"),
      (col("k") - 1).as("df1"), (col("n") - col("k")).as("df2"),
      M.oracleRound((ssb / (col("k") - 1).cast("double")) /
        (ssw / (col("n") - col("k")).cast("double")), 4).as("f_bf"))
  }

  // q301: EWMA control chart over the daily event series — the
  // monitoring companion to q292's retrospective CUSUM: a one-pass
  // smoothed level with a per-day deviation alert, the dataset-
  // freshness dashboard primitive. α = 1/2 makes every weight a power
  // of two, so the 40-lag truncated EWMA is an EXACT INTEGER
  // S_d = Σ_{j≤39} x_{d−j}·2^{39−j} (counts are integers), built by
  // exploding each day's count onto its next 40 calendar days and
  // re-aggregating — a constant 40× on a calendar-bounded micro-frame,
  // no recursion, no window state. The alert gate is the
  // division-free integer compare 4·|x·2⁴⁰ − S_prev| > S_prev
  // (deviation > 25% of the previous observed day's level), so no
  // float can flip a flag; ewma = S/2⁴⁰ is display-only.
  def ewmaChart(s: SparkSession, dir: String): DataFrame =
    ewmaFromDaily(Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")))

  /** The q301 detector over an ALREADY-MAINTAINED `(day, x)` daily
    * frame — the shared batch/streaming split (the
    * [[meanShiftFromDaily]] contract): batch q301 feeds it the one
    * map-side-combined daily aggregate, the streaming twin feeds it
    * [[graft.streaming.EventStreams.dailyCountStream]]'s watermark-
    * maintained table, and the parity spec pins identical output. */
  def ewmaFromDaily(dailyIn: DataFrame): DataFrame = {
    val daily = dailyIn.select(col("day"), col("x").cast("long").as("x"))
    val contrib = daily
      .select(col("day"), col("x"), explode(sequence(lit(0), lit(39))).as("j"))
      .select(expr("date_add(day, j)").as("day"),
        (col("x") * expr("shiftleft(CAST(1 AS BIGINT), 39 - j)")).as("w"))
      .groupBy("day").agg(sum(col("w")).as("sc"))
    val w = Window.partitionBy(lit(0)).orderBy("day")
    daily.join(contrib, "day")
      .coalesce(1)
      .withColumn("s_prev", lag(col("sc"), 1).over(w))
      .select(col("day"), col("x"),
        M.oracleRound(col("sc").cast("double") /
          lit(1099511627776.0), 4).as("ewma"),
        when(col("s_prev").isNull, lit(false))
          .otherwise(abs(col("x") * lit(1099511627776L) - col("s_prev"))
            * 4 > col("s_prev")).as("alert"))
      .orderBy("day")
  }
  // q305: Newman modularity of the q93 LPA communities — the
  // community-quality readout the graph family lacked (q93 assigns
  // labels, q238/q92 measure local structure; nothing said whether the
  // partition is GOOD). Q = Σ_c [e_c/m − (d_c/2m)²] computed
  // INTEGER-EXACT as Q·4m² = Σ_c (2m·intra2_c − d_c²) over the
  // directed edge-label frame (intra2 = 2e_c, d_c = directed degree
  // sum — one keyed aggregate on the labeled edges), so the one
  // corpus-sized fold is a long sum and the final division is a single
  // double op. Same fixed-iteration LPA stage as q93 (checkpointed
  // rounds inside GraphOps); everything after it is label-keyed.
  def modularityQuery(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select((col("l_partkey") * 2).as("p"),
        (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
      .localCheckpoint()
    val edges = pairs.select(col("p").as("src"), col("sp").as("dst"))
      .union(pairs.select(col("sp").as("src"), col("p").as("dst")))
    val lab = GraphOps.labelPropagation(edges, iters = 2,
      assumeDistinct = true)
    val el = edges
      .join(lab.toDF("src", "sl"), "src")
      .join(lab.toDF("dst", "dl"), "dst")
    val mrow = pairs.agg(count(lit(1)).as("m"))
    val g = el.groupBy(col("sl").as("label"))
      .agg(count(lit(1)).as("dc"),
        sum(when(col("sl") === col("dl"), 1L).otherwise(0L)).as("intra2"))
    val sizes = lab.groupBy("label").agg(count(lit(1)).as("nc"))
    val tops = sizes.agg(count(lit(1)).as("n_comm"),
      sum(col("nc")).as("n_nodes"), max(col("nc")).as("top_nodes"))
    g.crossJoin(broadcast(mrow))
      .agg(sum(lit(2) * col("m") * col("intra2") -
          col("dc") * col("dc")).as("s"),
        max(col("m")).as("m"))
      .crossJoin(broadcast(tops))
      .select(col("n_comm"), col("n_nodes"), col("m").as("m_edges"),
        M.oracleRound(col("s").cast("double") /
          (lit(4.0) * col("m") * col("m")), 4).as("modularity"),
        M.oracleRound(col("top_nodes").cast("double") / col("n_nodes"), 4)
          .as("top_share"))
  }
  // q306: Cochran–Armitage trend test — purchase share across the
  // ORDERED day-of-week groups (the "is conversion drifting across
  // the week?" dose-response question a χ² independence test wastes
  // power on by ignoring the ordering). Scores w_i = weekday index;
  // the trend numerator is the exact integer cross-product
  // N·Σw·r − R·Σw·n, and z = NUM·√N / √(R·(N−R)·(N·Σnw² − (Σnw)²))
  // is single-value double arithmetic from five integer sums — one
  // map-side-combined aggregate over the event stream, a 7-row group
  // frame, no windows.
  def cochranArmitage(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy(dayofweek(col("ts")).as("dow"))
      .agg(count(lit(1)).as("n_i"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("r_i"))
      .withColumn("w", (col("dow") - 1).cast("long"))
    val t = g.agg(count(lit(1)).as("k"),
      sum(col("n_i")).as("n"), sum(col("r_i")).as("r"),
      sum(col("w") * col("r_i")).as("swr"),
      sum(col("w") * col("n_i")).as("swn"),
      sum(col("w") * col("w") * col("n_i")).as("swwn"))
    val num = (col("n") * col("swr") - col("r") * col("swn"))
      .cast("double")
    val den = sqrt(col("r").cast("double") * (col("n") - col("r")) *
      (col("n") * col("swwn") - col("swn") * col("swn")).cast("double"))
    val z = num * sqrt(col("n").cast("double")) / den
    t.select(col("k"), col("n"), col("r"),
      M.oracleRound(z, 4).as("z"),
      M.oracleRound(z * z, 4).as("chi2_trend"))
  }
  // q308: incremental view maintenance of a per-status aggregate — the
  // materialized-view delta-apply every warehouse refresh runs: the
  // maintained aggregate NEVER re-aggregates the merged snapshot, it
  // combines the base aggregate with per-status deltas derived from
  // the change batch alone (q91's CDC classes: delete %41, update %37
  // with status→'U' and +10.00, insert %43 shifted). The ORACLE
  // recomputes the same aggregate from the merged snapshot from
  // scratch — their hash equality IS the IVM correctness theorem.
  // Prices ride fixed-point cents, so delta sums are exact longs and
  // the combine is integer addition; statuses emptied by deletes drop
  // (n = 0), statuses born in the delta ('U') appear via the full
  // outer combine. One base scan + one changed-keys scan — at 100 TB
  // the delta side is |changes|, not |base|.
  def ivmAggOrders(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    val base = Tables.orders(s, dir)
      .select(k, col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("c"))
    val baseAgg = base.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("bn"), sum(col("c")).as("bc"))
    val changed = base
      .filter(k % 41 === 0 || k % 37 === 0 || k % 43 === 0)
      .localCheckpoint()
    def d(f: Column, st: Column, dn: Long, dc: Column) =
      changed.filter(f).select(st.as("o_orderstatus"),
        lit(dn).as("dn"), dc.as("dc"))
    val deltas =
      d(k % 41 === 0, col("o_orderstatus"), -1L, -col("c"))
        .unionByName(d(k % 37 === 0 && k % 41 =!= 0,
          col("o_orderstatus"), -1L, -col("c")))
        .unionByName(d(k % 37 === 0 && k % 41 =!= 0,
          lit("U"), 1L, col("c") + 1000L))
        .unionByName(d(k % 43 === 0, col("o_orderstatus"), 1L, col("c")))
    val deltaAgg = deltas.groupBy("o_orderstatus")
      .agg(sum(col("dn")).as("dn"), sum(col("dc")).as("dc"))
    baseAgg.join(deltaAgg, Seq("o_orderstatus"), "full_outer")
      .select(col("o_orderstatus"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_orders"),
        (coalesce(col("bc"), lit(0L)) + coalesce(col("dc"), lit(0L)))
          .as("total_cents"))
      .filter(col("n_orders") > 0)
      .select(col("o_orderstatus"), col("n_orders"), col("total_cents"),
        M.oracleRound(col("total_cents").cast("double") / 100, 2)
          .as("total_price"))
      .orderBy("o_orderstatus")
  }

  // q309: small-file compaction planner — the lakehouse maintenance
  // job that bins a manifest of input files into target-size outputs
  // WITHOUT a greedy sequential scan: output file = cum_before div T
  // (contiguous cumulative-sum bucketing — the parallelizable plan a
  // distributed compactor actually executes; bins can overrun T by at
  // most one input file, the stated contract). The manifest cumsum
  // rides [[bucketedCumCounts]] (two-level prefix sum — a 100 TB
  // table's manifest is millions of files, no single-partition sort),
  // and the per-output rollup is one keyed aggregate. Emits per
  // output file: inputs, bytes, 4-dp fill ratio vs T = 20000.
  def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    val target = 20000L
    val files = Tables.documents(s, dir)
      .select(lit(0).as("g"), col("doc_id").as("v"),
        col("n_chars").cast("long").as("cnt"))
    bucketedCumCounts(files, Seq("g"))
      .select(col("v"), col("cnt"),
        expr(s"(cum - cnt) div $target").as("out_file"))
      .groupBy("out_file")
      .agg(count(lit(1)).as("n_inputs"), sum(col("cnt")).as("bytes"),
        min(col("v")).as("first_doc"), max(col("v")).as("last_doc"))
      .select(col("out_file"), col("n_inputs"), col("bytes"),
        col("first_doc"), col("last_doc"),
        M.oracleRound(col("bytes").cast("double") / target, 4)
          .as("fill_ratio"))
      .orderBy("out_file")
  }
  // q310: RFM quintile segmentation — the customer-analytics scoring
  // every retention team runs (recency / frequency / monetary, each
  // scored 1–5 by exact quintile). Scores come from the per-METRIC
  // value histogram: score(v) = ceil(5·cum(v)/n) with ties sharing a
  // score (the deterministic tie-stable contract; no ntile, whose
  // row-split of ties is engine-dependent), recency inverted so 5 =
  // most recent. Each histogram cum rides [[bucketedCumCounts]] — at
  // billions of users the quintile pass is a two-level prefix sum,
  // never a global sorted window. Monetary is fixed-point cents.
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val maxDay = ev.agg(max(to_date(col("ts"))).as("mx"))
    val users = ev
      .groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("f_cnt"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L))
          .as("m_cents"))
      .crossJoin(broadcast(maxDay))
      .select(col("user_id"), datediff(col("mx"), col("last_day"))
          .cast("long").as("r_days"),
        col("f_cnt"), col("m_cents"))
      .localCheckpoint()
    def quintile(metric: String, invert: Boolean): DataFrame = {
      val hist = users.groupBy(lit(0).as("g"), col(metric).as("v"))
        .agg(count(lit(1)).as("cnt"))
      // ceil(5·cum/n) in EXACT integers: (5·cum + n − 1) div n — a
      // float ceil could land on either side of an exact boundary
      val sc = expr("(5 * cum + n - 1) div n")
      bucketedCumCounts(hist, Seq("g"))
        .select(col("v").as(metric),
          (if (invert) lit(6L) - sc else sc).as(s"${metric}_score"))
    }
    users
      .join(quintile("r_days", invert = true), "r_days")
      .join(quintile("f_cnt", invert = false), "f_cnt")
      .join(quintile("m_cents", invert = false), "m_cents")
      .select(col("user_id"), col("r_days"), col("f_cnt"), col("m_cents"),
        col("r_days_score").as("r_score"),
        col("f_cnt_score").as("f_score"),
        col("m_cents_score").as("m_score"),
        concat(col("r_days_score"), col("f_cnt_score"),
          col("m_cents_score")).as("rfm_cell"))
      .orderBy("user_id")
  }

  // q311: degree assortativity of the q93 graph — "do hubs link to
  // hubs?" (Newman 2002), the structural companion to q305's
  // modularity: Pearson r between endpoint degrees over every directed
  // edge, computed ENTIRELY from six exact integer sums (M, Σx, Σy,
  // Σxy, Σx², Σy²) so the one edge-sized fold is a long sum and r is
  // single-value double arithmetic. Degrees are one keyed aggregate;
  // the edge-degree attach is two key joins on the shuffle the graph
  // already has.
  def assortativity(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select((col("l_partkey") * 2).as("p"),
        (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
    val edges = pairs.select(col("p").as("src"), col("sp").as("dst"))
      .union(pairs.select(col("sp").as("src"), col("p").as("dst")))
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("d"))
    val ed = edges
      .join(deg.toDF("src", "dx"), "src")
      .join(deg.toDF("dst", "dy"), "dst")
    val t = ed.agg(count(lit(1)).as("m"),
      countDistinct(col("src")).as("n_nodes"),
      sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
      sum(col("dx") * col("dy")).as("sxy"),
      sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dy") * col("dy")).as("syy"))
    val num = (col("m") * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val den = sqrt((col("m") * col("sxx") - col("sx") * col("sx"))
      .cast("double") *
      (col("m") * col("syy") - col("sy") * col("sy")).cast("double"))
    t.select(col("n_nodes"), col("m").as("m_directed"),
      M.oracleRound(num / den, 4).as("assortativity"))
  }
  // q312: order-independent table digest — the content fingerprint a
  // lakehouse computes per snapshot to detect divergence WITHOUT
  // sorting anything: each row hashes canonically (integer-safe field
  // renderings — no float formatting can differ between engines), the
  // 40-bit row hashes SUM per key bucket (addition commutes, so the
  // digest is partition- and order-free and two sites can compare
  // bucket-by-bucket to localize a diff), and the root row sums the
  // bucket digests. 64 buckets × bounded 40-bit hashes keep every sum
  // far from long overflow at any row count a bucket realistically
  // holds; one map-side-combined aggregate, no window, no sort.
  def tableDigest(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val rowStr = concat_ws(":", lit("r"), col("l_orderkey"),
      col("l_linenumber"),
      round(col("l_quantity")).cast("long"),
      round(col("l_extendedprice") * 100).cast("long"),
      col("l_returnflag"), col("l_linestatus"))
    val rows = li.select(pmod(col("l_orderkey"), lit(64)).as("bucket"),
      T.md5Int(rowStr, 10).as("h"))
    val buckets = rows.groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("digest"))
    val root = buckets.agg(lit(-1L).as("bucket"),
      sum(col("n_rows")).as("n_rows"), sum(col("digest")).as("digest"))
    buckets.unionByName(root).orderBy("bucket")
  }
  // q314: join-cardinality estimation audit — the optimizer's
  // histogram model checked against ground truth on the skew-sensitive
  // case: the user_id self-join of the event stream (the q88
  // salted-join input, where |A ⋈ B| = Σ c(u)² and a uniform model
  // genuinely errs). Estimate from a CAPPED histogram — top-100 heavy
  // keys exact, the tail under the uniform assumption
  // est_tail = tail_rows² / tail_ndv (the textbook formula a
  // cost-based planner evaluates) — vs the exact Σ c², emitting the
  // q-error max(est/act, act/est) planners benchmark with. One keyed
  // aggregate + a TakeOrdered head + scalar math; the integer sums
  // are exact, the estimate is one double division.
  def joinEstimate(s: SparkSession, dir: String): DataFrame = {
    val h = Tables.events(s, dir).groupBy(col("user_id").as("k"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val head = h.orderBy(col("c").desc, col("k")).limit(100)
    val headAgg = head.agg(
      coalesce(sum(col("c") * col("c")), lit(0L)).as("est_head"),
      coalesce(sum(col("c")), lit(0L)).as("head_rows"),
      count(lit(1)).as("head_ndv"))
    val tot = h.agg(sum(col("c")).as("rows_t"), count(lit(1)).as("ndv"),
      sum(col("c") * col("c")).as("actual"))
    val tailRows = (col("rows_t") - col("head_rows")).cast("double")
    val est = col("est_head").cast("double") +
      tailRows * tailRows /
        greatest(col("ndv") - col("head_ndv"), lit(1L))
    headAgg.crossJoin(broadcast(tot))
      .select(col("rows_t").as("n_rows"), col("ndv"), col("actual"),
        M.oracleRound(est, 4).as("estimate"),
        M.oracleRound(
          greatest(est / col("actual").cast("double"),
            col("actual").cast("double") / est), 4).as("q_error"))
  }

  // q315: event-time disorder profile — the EMPIRICAL input a
  // watermark choice needs (q231 calculates designs; this measures
  // the stream): per event, lag = running-max(ts) over the log's
  // arrival order (event_id) minus own ts, then exact lag percentiles
  // p50/p95/p99/max in milliseconds. The running max is the two-level
  // scheme a global ordered window can't scale to: per-id-bucket max,
  // prefix-max over the tiny bucket frame, then an arrival-ordered
  // within-bucket window — identical to the naive global running max,
  // bucket by bucket. Percentile ranks come off the integer lag
  // histogram via [[bucketedCumCounts]].
  def disorderProfile(s: SparkSession, dir: String): DataFrame = {
    // the generator emits event_id in ts order (zero native disorder),
    // so ARRIVAL order plants a deterministic md5 jitter of up to 200
    // positions — the late-data profile the detector then measures
    val ev = Tables.events(s, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("arr", col("event_id") +
        pmod(T.md5Int(concat(lit("arr:"), col("event_id").cast("string")),
          8), lit(200)))
      .withColumn("bkt", expr("arr div 1000"))
    val bmax = ev.groupBy("bkt").agg(max(col("us")).as("bmx"))
      .coalesce(1)
      .withColumn("prev_mx", max(col("bmx")).over(
        Window.partitionBy(lit(0)).orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)))
    val w = Window.partitionBy("bkt").orderBy("arr", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // no broadcast hint: the bucket frame is events/1000 rows — tiny
    // here, but at extreme event counts a forced broadcast would OOM
    // (the geoNearJoin lesson); the join is bkt-keyed, AQE decides
    val lags = ev.join(bmax, "bkt")
      // greatest() skips nulls, so the first bucket (no prev_mx) and
      // each bucket's first row (empty preceding frame) fall through
      // to a null run_mx = "no earlier event" = lag 0 — no sentinel
      // arithmetic that ANSI overflow checking would reject
      .withColumn("run_mx",
        greatest(max(col("us")).over(w), col("prev_mx")))
      .withColumn("lag_us", when(col("run_mx").isNull, lit(0L))
        .otherwise(greatest(col("run_mx") - col("us"), lit(0L))))
      .withColumn("lag_ms", expr("lag_us div 1000"))
    val hist = lags.groupBy(lit(0).as("g"), col("lag_ms").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val cum = bucketedCumCounts(hist, Seq("g"))
    def pct(p: Double, name: String) =
      min(when(col("cum") * 100 >= col("n") * lit((p * 100).toLong),
        col("v"))).as(name)
    cum.agg(max(col("n")).as("n_events"),
        pct(0.50, "p50_ms"), pct(0.95, "p95_ms"), pct(0.99, "p99_ms"),
        max(col("v")).as("max_ms"))
  }
  // q321: snapshot diff BY DIGEST — q312's order-free bucket digests
  // doing their actual job: digest the base orders snapshot and the
  // q308-merged successor, join per bucket, and report ONLY the
  // buckets whose digests moved (with row-count deltas). At 100 TB
  // this is how two table versions compare without shipping either:
  // 64 digest rows cross the wire, the changed-bucket list bounds the
  // re-read. Every digest is an exact integer sum of 40-bit md5
  // prefixes; the change classes here are deliberately SPARSE
  // (%977 delete / %983 update / %991 insert — a realistic trickle,
  // unlike q308's bulk merge) so the gate demonstrates the
  // localization: most buckets' digests are untouched.
  def digestDiff(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("c"))
    val merged = base.filter(col("k") % 977 =!= 0)
      .select(col("k"),
        when(col("k") % 983 === 0, lit("U")).otherwise(col("st")).as("st"),
        when(col("k") % 983 === 0, col("c") + 1000).otherwise(col("c"))
          .as("c"))
      .unionByName(base.filter(col("k") % 991 === 0)
        .select((col("k") + 10000000L).as("k"), col("st"), col("c")))
    def digest(df: DataFrame, an: String, dn: String): DataFrame = df
      .select(pmod(col("k"), lit(64)).as("bucket"),
        T.md5Int(concat_ws(":", lit("o"), col("k"), col("st"), col("c")),
          10).as("h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as(an), sum(col("h")).as(dn))
    digest(base, "rows_a", "dig_a")
      .join(digest(merged, "rows_b", "dig_b"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("rows_a"), lit(0L)).as("rows_a"),
        coalesce(col("rows_b"), lit(0L)).as("rows_b"),
        coalesce(col("dig_a"), lit(0L)).as("dig_a"),
        coalesce(col("dig_b"), lit(0L)).as("dig_b"))
      .filter(col("dig_a") =!= col("dig_b"))
      .select(col("bucket"), col("rows_a"), col("rows_b"),
        (col("rows_b") - col("rows_a")).as("row_delta"))
      .orderBy("bucket")
  }
  // q323: q66's click↔view band join through the NATIVE whole-operator
  // plan ([[graft.plans.BandJoinNode]] — one hash shuffle + sort per
  // side, then a single merge pass with a sliding band buffer; no
  // 3×-explode row inflation, no post-filter). Same oracle as q66 —
  // the two plans must produce identical pairs; the spec additionally
  // pins row-identity against the composition on adversarial data.
  def rangeClickViewNative(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("us"))
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("vuser"),
        col("us").as("vus"))
    graft.plans.RangeNative.bandJoin(clicks, views,
        "user_id", "us", "vuser", "vus", gap = 1800000000L)
      .select(col("click_id"), col("view_id"), col("user_id"),
        (col("us") - col("vus")).as("gap_us"))
      .orderBy("click_id", "view_id")
  }

  // q440: q323's banded range join written in PLAIN join syntax —
  // `clicks.join(views, user === vuser && abs(us − vus) <= gap)` —
  // with NO explicit native API call: the [[graft.plans
  // .BandJoinRewrite]] optimizer rule must recognize the shape and
  // reroute it to BandJoinExec (BandRewriteSpec pins the plan; this
  // gate pins the rows against the same oracle as q66/q323). This is
  // the contract that matters at 100 TB: users write the obvious
  // join, the engine supplies the merge-pass plan — not the hash
  // join whose per-hot-key cross product lands in one task.
  def rangeClickViewRewrite(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("us"))
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("vuser"),
        col("us").as("vus"))
    clicks.join(views,
        col("user_id") === col("vuser") &&
          abs(col("us") - col("vus")) <= lit(1800000000L))
      .select(col("click_id"), col("view_id"), col("user_id"),
        (col("us") - col("vus")).as("gap_us"))
      .orderBy("click_id", "view_id")
  }

  // q444: q440's negative twin — the SAME band predicate but as a LEFT
  // OUTER join, which BandJoinRewrite's contract excludes (the native
  // exec is inner-only). The gate asserts the composed plan still
  // answers correctly when the rule declines, and BandRewriteSpec pins
  // that no BandJoinNode appears in this plan — the regression guard
  // against the rule over-matching as it evolves. Unmatched clicks
  // survive with NULL view columns (the outer-join semantics the
  // rewrite must never silently change).
  def rangeClickViewLeftOuter(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("us"))
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("vuser"),
        col("us").as("vus"))
    clicks.join(views,
        col("user_id") === col("vuser") &&
          abs(col("us") - col("vus")) <= lit(1800000000L), "left_outer")
      .select(col("click_id"), col("view_id"), col("user_id"),
        (col("us") - col("vus")).as("gap_us"))
      .orderBy("click_id", "view_id")
  }

  // q324: Adamic-Adar link prediction over the q92/q238 co-purchase
  // graph — for each NON-adjacent pair sharing ≥1 neighbor,
  // aa(x,y) = Σ_{z ∈ N(x)∩N(y)} 1/ln(deg z) (rare shared neighbors
  // weigh more than hubs). Wedge enumeration joins the adjacency list
  // with itself on the shared middle node z — cost Σ deg(z)², the
  // same bound q238 accepts — with a deg(z) ≤ 256 hub cap (the q149
  // df-cap discipline: a hub's 1/ln weight is noise, its quadratic
  // fanout is the scale killer; the cap is load-bearing at 100 TB and
  // mirrored verbatim in the oracle). Existing edges leave via one
  // broadcast-able anti-join on the canonical (a<b) edge set; top-20
  // by 4-dp-pinned score with (a,b) tiebreak so the LIMIT boundary is
  // deterministic on both sides.
  def adamicAdar(s: SparkSession, dir: String): DataFrame = {
    val pp = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val co = GraphOps.basketPairs(pp, "l_orderkey", "l_partkey")
      .distinct()
      .localCheckpoint()
    val adj = co.select(col("a").as("z"), col("b").as("x"))
      .unionAll(co.select(col("b").as("z"), col("a").as("x")))
    val deg = adj.groupBy("z").agg(count(lit(1)).as("deg"))
    // NOTE (r16, experiment REJECTED by the sf1 slope gate): the wedge
    // self-join computes the degree aggregate + cap join twice (the
    // probe-side rename defeats exchange reuse), and localCheckpointing
    // `mid` to deduplicate that read 0.60× normalized at sf0.1 — but
    // 4.87× slope at sf1 (vs 1.93 without): materializing the
    // edge-sized frame costs more than recomputing the cheap degree
    // aggregate, and the checkpoint un-fuses the wedge pipeline off
    // the cached `co`. The duplicate subtree is the small part; keep
    // the live plan.
    val mid = adj.join(deg.filter(col("deg") <= 256), Seq("z"))
    val wedges = mid
      .join(mid.select(col("z"), col("x").as("y"), col("deg").as("d2")),
        Seq("z"))
      .filter(col("x") < col("y"))
      .groupBy(col("x").as("a"), col("y").as("b"))
      .agg(count(lit(1)).as("n_common"),
        sum(lit(1.0) / log(col("deg").cast("double"))).as("aa_raw"))
    wedges.join(co, Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("n_common"),
        M.oracleRound(col("aa_raw"), 4).as("aa"))
      .orderBy(col("aa").desc, col("a"), col("b"))
      .limit(20)
  }

  // q325: type-2 slowly-changing dimension build from the raw event
  // change log — the warehouse-history primitive every star schema
  // needs and none of the snapshot ops (q86 upsert, q91/q321 diffs,
  // q205 CDC apply) covers: collapse each user's event-type stream
  // into maximal runs, then version them with [valid_from, valid_to)
  // effective ranges (valid_to NULL = current row). Two windows, BOTH
  // partitioned by user_id (never global), with (us, event_id) as the
  // total order so same-microsecond events collapse identically on
  // both sides; everything after the run-collapse is one row per
  // version. At 100 TB this is a single hash shuffle on user_id.
  def scd2Build(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val runs = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type").as("state"))
      .withColumn("chg",
        when(lag(col("state"), 1).over(w).isNull ||
          lag(col("state"), 1).over(w) =!= col("state"), 1).otherwise(0))
      .withColumn("version", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val vw = Window.partitionBy("user_id").orderBy("version")
    runs.groupBy(col("user_id"), col("version"))
      .agg(first(col("state")).as("state"),
        min(col("us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(vw))
      .withColumn("is_current",
        when(col("valid_to_us").isNull, 1).otherwise(0))
      .select(col("user_id"), col("version").cast("long").as("version"),
        col("state"), col("valid_from_us"), col("valid_to_us"),
        col("n_events"), col("is_current"))
      .orderBy("user_id", "version")
  }

  // q326: point-in-time (PIT) fact↔dimension join — each purchase
  // event looks up the q325-style SCD2 state (built from the NON-
  // purchase stream) effective at its timestamp: the training-data
  // no-time-travel join (a feature row may only see dimension state
  // that existed at label time — q220's split rule applied to joins).
  // The interval probe is an equi-join on user_id plus the range
  // predicate — keyed by user, never a band join — and purchases
  // before the user's first state row surface as 'none' (left join),
  // making the leakage-vs-coverage tradeoff visible. Revenue is
  // cent-pinned per event THEN integer-summed, so the per-state sums
  // are order-independent exact.
  def scd2PointInTime(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
      .localCheckpoint()
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val dim = e.filter(col("event_type") =!= "purchase")
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1)
          .otherwise(0))
      .withColumn("version", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("version"))
      .agg(first(col("event_type")).as("state"),
        min(col("us")).as("from_us"))
      .withColumn("to_us", lead(col("from_us"), 1)
        .over(Window.partitionBy("user_id").orderBy("version")))
    val facts = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("f_user"), col("event_id"),
        col("us").as("f_us"), col("value"))
    facts.join(dim,
        col("f_user") === dim("user_id") &&
          col("from_us") <= col("f_us") &&
          (col("to_us").isNull || col("f_us") < col("to_us")),
        "left")
      .select(col("f_user").as("user_id"),
        coalesce(col("state"), lit("none")).as("state"),
        col("value"))
      .groupBy("state")
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"),
        sum(round(col("value") * 100).cast("long")).as("revenue_cents"))
      .orderBy("state")
  }

  // q330: weighted median per group — the robust center the plain
  // median (q50) cannot give when rows carry unequal mass (price
  // weighted by shipped quantity here; at corpus scale: quality score
  // weighted by token count). Selected value = the smallest price
  // whose running weight crosses half the total (2·cum ≥ W, exact
  // integers — no W/2 float). The pick is an EXISTING data value, so
  // no rounding pin is needed, and it is tie-safe: equal prices give
  // the same crossing value under any intra-tie cum order. One window
  // per group key — partitioned by l_returnflag, never global.
  def weightedMedian(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice").as("v"),
        col("l_quantity").cast("long").as("w"))
    val win = Window.partitionBy("l_returnflag")
      .orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("cum", sum(col("w")).over(win))
      .withColumn("tot", sum(col("w")).over(Window.partitionBy("l_returnflag")))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy("l_returnflag")
      .agg(min(col("v")).as("wmedian"), max(col("tot")).as("total_w"))
      .select(col("l_returnflag"), col("total_w"), col("wmedian"))
      .orderBy("l_returnflag")
  }

  // q331: Gumbel fit on block maxima — extreme-value theory for the
  // tail the moment panel (q67) and outlier scans (q219/q268) cannot
  // extrapolate: the DAILY MAX event value per day is the block-maxima
  // series; method-of-moments Gumbel params (scale = s·√6/π,
  // loc = m − γ·scale, γ = Euler–Mascheroni) and the 30-day return
  // level loc − scale·ln(−ln(1−1/30)) — "the value exceeded once a
  // month". Daily max is exact (no float summation); mean/sd of the
  // days-sized maxima frame are 6-dp-pinned BEFORE the closed forms so
  // both sides derive params from identical doubles. Corpus-scale
  // cost = one keyed max aggregate; everything after is days-sized.
  def gumbelMaxima(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(max(col("value")).as("mx"))
    daily.agg(count(lit(1)).as("n_days"),
        M.oracleRound(avg(col("mx")), 6).as("mean_max"),
        M.oracleRound(stddev_samp(col("mx")), 6).as("sd_max"))
      .withColumn("scale",
        M.oracleRound(col("sd_max") * sqrt(lit(6.0)) / lit(math.Pi), 4))
      .withColumn("loc",
        M.oracleRound(col("mean_max") - lit(0.5772156649) *
          (col("sd_max") * sqrt(lit(6.0)) / lit(math.Pi)), 4))
      .withColumn("rl30",
        M.oracleRound(
          (col("mean_max") - lit(0.5772156649) *
            (col("sd_max") * sqrt(lit(6.0)) / lit(math.Pi))) -
          (col("sd_max") * sqrt(lit(6.0)) / lit(math.Pi)) *
            log(-log(lit(1.0) - lit(1.0) / 30)), 4))
      .select("n_days", "mean_max", "sd_max", "loc", "scale", "rl30")
  }

  // q332: Jarque-Bera normality panel per group — the distribution-
  // shape gate that says WHETHER the parametric tests upstream
  // (q253 Welch, q254 ANOVA, q267 OLS t-stats) are even admissible:
  // skewness and excess kurtosis from raw central-moment sums around
  // the 6-dp-pinned mean (NOT the built-in skewness()/kurtosis() —
  // their sample-adjustment conventions differ across engines), then
  // JB = n/6·(S² + (K−3)²/4) with the χ²(2) 5% critical value 5.991
  // as the reject line. One scan, one keyed aggregate of four sums.
  def jarqueBera(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(M.oracleRound(avg(col("l_quantity")), 6).as("mu"))
    Tables.lineitem(s, dir)
      .join(broadcast(m), Seq("l_returnflag"))
      .withColumn("d", col("l_quantity") - col("mu"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("d") * col("d")).as("s2"),
        sum(col("d") * col("d") * col("d")).as("s3"),
        sum(col("d") * col("d") * col("d") * col("d")).as("s4"))
      .withColumn("skew", M.oracleRound(
        (col("s3") / col("n")) / pow(col("s2") / col("n"), 1.5), 4))
      .withColumn("kurt", M.oracleRound(
        (col("s4") / col("n")) / pow(col("s2") / col("n"), 2.0), 4))
      .withColumn("jb", M.oracleRound(
        col("n") / lit(6.0) *
          (pow((col("s3") / col("n")) / pow(col("s2") / col("n"), 1.5), 2.0)
            + pow((col("s4") / col("n")) / pow(col("s2") / col("n"), 2.0)
                - 3.0, 2.0) / 4.0), 4))
      .select(col("l_returnflag"), col("n"), col("skew"), col("kurt"),
        col("jb"),
        when(col("jb") > 5.991, 1).otherwise(0).as("reject_normal"))
      .orderBy("l_returnflag")
  }

  // q335: Markov surprise — per-user behavioral anomaly score from the
  // event-type transition chain: fit the GLOBAL first-order transition
  // model (Laplace-smoothed, p(j|i) = (c_ij+1)/(c_i+K) with K = the
  // observed alphabet size), then score each user by the mean negative
  // log-likelihood of their OWN transitions under it. q122 reports the
  // chain; this turns it into the bot/fraud screen (a user whose
  // transitions are globally rare floats to the top). Transition
  // extraction is ONE user-partitioned lag window; the model is a
  // K²-sized broadcast; scoring is map + user-keyed aggregate. Top-20
  // by the 4-dp-pinned score with user_id tiebreak — a deterministic
  // LIMIT boundary on both sides.
  def markovSurprise(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val trans = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type").as("t"))
      .withColumn("prev", lag(col("t"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("user_id"), col("prev"), col("t"))
      .localCheckpoint() // read 3x: model counts, row counts, scoring
    val k = trans.select(col("t")).unionAll(trans.select(col("prev")))
      .distinct().agg(count(lit(1)).as("kk"))
    val model = trans.groupBy("prev", "t").agg(count(lit(1)).as("c_ij"))
      .join(trans.groupBy("prev").agg(count(lit(1)).as("c_i")), Seq("prev"))
      .crossJoin(broadcast(k))
    trans.join(broadcast(model), Seq("prev", "t"))
      .withColumn("nll", -log((col("c_ij") + 1).cast("double") /
        (col("c_i") + col("kk")).cast("double")))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_trans"),
        M.oracleRound(sum(col("nll")) / count(lit(1)), 4).as("surprise"))
      .orderBy(col("surprise").desc, col("user_id"))
      .limit(20)
  }

  // q337: entropy rate of the event-type Markov chain — ONE number
  // for "how predictable is user behavior": H = Σ_i π_i·Σ_j −p_ij·ln
  // p_ij with π the empirical source-state share and p the unsmoothed
  // observed transition probabilities (only observed cells — p > 0 by
  // construction, no smoothing needed since we never score unseen
  // events here, unlike q335). Per-state conditional entropies ship
  // as rows plus a '__chain' total row, so a drop in one state's
  // entropy (a bot locking into view→view) is visible next to the
  // global rate. Everything after the one lag-window transition
  // extraction is K²-sized.
  def entropyRate(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val trans = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type").as("t"))
      .withColumn("prev", lag(col("t"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy("prev", "t").agg(count(lit(1)).as("c_ij"))
      .localCheckpoint()
    val perState = trans
      .join(trans.groupBy("prev").agg(sum("c_ij").as("c_i")), Seq("prev"))
      .groupBy(col("prev").as("state"), col("c_i"))
      .agg(sum(-col("c_ij").cast("double") / col("c_i") *
        log(col("c_ij").cast("double") / col("c_i"))).as("h_raw"))
    val total = perState.agg(sum("c_i").as("nn"))
    val rows = perState.crossJoin(broadcast(total))
      .select(col("state"), col("c_i").as("n_from"),
        M.oracleRound(col("c_i").cast("double") / col("nn"), 4).as("pi"),
        M.oracleRound(col("h_raw"), 4).as("h_nats"),
        (col("c_i").cast("double") / col("nn") * col("h_raw")).as("w"))
    rows.select("state", "n_from", "pi", "h_nats")
      .unionByName(rows.agg(sum("n_from").as("n_from"),
          M.oracleRound(sum("w"), 4).as("h_nats"))
        .select(lit("__chain").as("state"), col("n_from"),
          lit(1.0).as("pi"), col("h_nats")))
      .orderBy("state")
  }

  // q338: stratified ATE — the propensity-stratification estimator
  // that closes the causal panel (q225 CUPED reduces variance, q229
  // matches on covariates, q281 looks at quantiles; THIS one weights
  // per-stratum arm contrasts by stratum share, the workhorse when
  // treatment assignment is confounded by a discrete covariate).
  // Treatment = BUILDING-segment customer, outcome = order total
  // (cent-pinned exact), strata = nation. Per stratum: arm means from
  // exact integer sums, contrast, weight n_s/N; strata missing an arm
  // drop (no counterfactual) and the overall row reweights over the
  // kept strata. One orders⋈customer broadcast join + one keyed
  // aggregate; the stratum frame is 25 rows.
  def stratifiedAte(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"),
          when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
            .as("treat"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nation"), col("treat"),
        round(col("o_totalprice") * 100).cast("long").as("y"))
    val strata = base.groupBy("nation")
      .agg(count(lit(1)).as("n"),
        sum("treat").as("n_t"),
        sum(when(col("treat") === 1, col("y")).otherwise(0L)).as("sy_t"),
        sum(when(col("treat") === 0, col("y")).otherwise(0L)).as("sy_c"))
      .filter(col("n_t") > 0 && col("n_t") < col("n"))
      .withColumn("mean_t",
        col("sy_t").cast("double") / col("n_t").cast("double") / 100)
      .withColumn("mean_c", col("sy_c").cast("double") /
        (col("n") - col("n_t")).cast("double") / 100)
      .localCheckpoint() // 25 rows; reread for the overall reweight
    val tot = strata.agg(sum("n").as("nn"))
    val perStratum = strata.crossJoin(broadcast(tot))
      .select(col("nation").cast("long").as("nation"), col("n"),
        col("n_t"),
        M.oracleRound(col("mean_t"), 4).as("mean_treat"),
        M.oracleRound(col("mean_c"), 4).as("mean_ctrl"),
        M.oracleRound(col("mean_t") - col("mean_c"), 4).as("effect"),
        (col("n").cast("double") / col("nn") *
          (col("mean_t") - col("mean_c"))).as("w"))
    perStratum.select("nation", "n", "n_t", "mean_treat", "mean_ctrl",
        "effect")
      .unionByName(perStratum
        .agg(sum("n").as("n"), sum("n_t").as("n_t"),
          M.oracleRound(sum("w"), 4).as("effect"))
        .select(lit(-1L).as("nation"), col("n"), col("n_t"),
          lit(null).cast("double").as("mean_treat"),
          lit(null).cast("double").as("mean_ctrl"), col("effect")))
      .orderBy("nation")
  }

  // q454: Hájek-stabilized IPW ATE with a TRAINED propensity model —
  // the inverse-propensity-weighting estimator beside q338's exact
  // stratification: e(x) comes from the q446-family in-engine logistic
  // (micro-unit GD, 3 rounds, lr 0.5) over 8 account-balance bins, so
  // the whole causal chain — model fit, clamped propensities, weighted
  // arm means — is one engine artifact. Same treatment/outcome as q338
  // (BUILDING segment → order total) so the two estimators are
  // directly comparable; e is clamped to [1e-6, 1−1e-6] in micro-units
  // (the standard positivity trim). Per-order weight terms are
  // 6-dp-pinned and DECIMAL-summed (order-free); e_min/e_max ride as
  // positivity diagnostics. Scale shape: the propensity model is
  // driver-sized (9 weights); training and scoring are keyed
  // aggregates + a broadcast join — the corpus never moves.
  def ipwAte(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"),
          when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
            .as("y"),
          round(col("c_acctbal") * 100).cast("long").as("__bal"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("doc_id"), col("y"),
        round(col("o_totalprice") * 100).cast("long").as("__yc"),
        least(lit(7), greatest(lit(0),
          floor((col("__bal") + lit(100000L)).cast("double") / lit(137500.0))
            .cast("int"))).as("j"))
      .localCheckpoint()
    val labels = base.select("doc_id", "y")
    val feats = base.select("doc_id", "j").distinct().localCheckpoint()
    val (wu, bu) = TrainedFilter.trainLogistic(labels, feats,
      buckets = 8, iters = 3, lr = 0.5, nDocs = base.count())
    val e = TrainedFilter.microScores(labels, feats, wu, bu)
      .select(col("doc_id"),
        least(greatest(col("pu"), lit(1L)), lit(999999L)).as("__eu"))
    val ed = col("__eu").cast("double") / lit(1000000.0)
    val ced = (lit(1000000L) - col("__eu")).cast("double") / lit(1000000.0)
    val yd = col("__yc").cast("double") / lit(100)
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(28,6)")
    val z = lit(0).cast("decimal(28,6)")
    val g = base.join(e, Seq("doc_id"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_t"),
        sum(when(col("y") === 1L, dec(M.oracleRound(yd / ed, 6)))
          .otherwise(z)).as("syt"),
        sum(when(col("y") === 1L, dec(M.oracleRound(lit(1.0) / ed, 6)))
          .otherwise(z)).as("swt"),
        sum(when(col("y") === 0L, dec(M.oracleRound(yd / ced, 6)))
          .otherwise(z)).as("syc"),
        sum(when(col("y") === 0L, dec(M.oracleRound(lit(1.0) / ced, 6)))
          .otherwise(z)).as("swc"),
        sum(when(col("y") === 1L, col("__yc")).otherwise(0L)).as("syn"),
        sum(when(col("y") === 0L, col("__yc")).otherwise(0L)).as("scn"),
        M.oracleRound(min(ed), 6).as("e_min"),
        M.oracleRound(max(ed), 6).as("e_max"))
    g.select(col("n"), col("n_t"),
      M.oracleRound(col("syt").cast("double") / col("swt").cast("double"),
        4).as("mu_ipw_treat"),
      M.oracleRound(col("syc").cast("double") / col("swc").cast("double"),
        4).as("mu_ipw_ctrl"),
      M.oracleRound(col("syt").cast("double") / col("swt").cast("double") -
        col("syc").cast("double") / col("swc").cast("double"), 4)
        .as("ate_ipw"),
      M.oracleRound(col("syn").cast("double") / col("n_t").cast("double") /
        lit(100) - col("scn").cast("double") /
        (col("n") - col("n_t")).cast("double") / lit(100), 4)
        .as("ate_naive"),
      col("e_min"), col("e_max"))
  }

  // q460: two-component 1-D GAUSSIAN MIXTURE fit by EM — the soft
  // counterpart of the engine's hard-assignment Lloyd fits (q53) and
  // the fourth in-engine trained model (logistic q446, AdaBoost q452,
  // IPW propensity q454): 3 EM rounds over the events value stream,
  // init = the 4-dp-pinned exact quartiles + the exact-integer-moment
  // std, responsibilities 6-dp-pinned per row, every M-step moment a
  // DECIMAL sum (order-free), every parameter 6-dp-pinned before the
  // next E-step — the Lloyd collect-and-rebroadcast shape, so the
  // whole fit unrolls into oracle SQL. Variance is floored at 1e-4
  // (the standard EM degeneracy guard). Scale shape: per round ONE
  // map-only E-step projection + one 6-column aggregate; the model is
  // 6 driver doubles; the stream never shuffles.
  /** The fitted q460 model, memoized per (session, sf dir) — the
    * fit-once/score-many contract (q137-q139, q446): q460 publishes
    * the parameters, q463 scores the stream against them without
    * refitting. Returns (mu1, sg1, pi1, mu2, sg2, lastN1, n). */
  private val gmmStage = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (Double, Double, Double, Double, Double, Double, Long)]
  private def gmmFit(s: SparkSession, dir: String):
      (Double, Double, Double, Double, Double, Double, Long) =
    gmmStage.getOrElseUpdate((s, dir), gmmFitImpl(s, dir))

  def gmmEm(s: SparkSession, dir: String): DataFrame = {
    val (mu1, sg1, pi1, mu2, sg2, lastN1, n) = gmmFit(s, dir)
    def rnd(x: Double, sc: Int): Double = {
      val p = math.pow(10, sc)
      if (x < 0) -math.floor(-x * p + 0.5) / p else math.floor(x * p + 0.5) / p
    }
    import s.implicits._
    Seq(
      (1, pi1, mu1, sg1, rnd(lastN1, 2)),
      (2, rnd(1.0 - pi1, 6), mu2, sg2, rnd(n - lastN1, 2)))
      .toDF("k", "pi", "mu", "sigma", "n_eff")
      .orderBy("k")
  }

  private def gmmFitImpl(s: SparkSession, dir: String):
      (Double, Double, Double, Double, Double, Double, Long) = {
    def rnd(x: Double, sc: Int): Double = {
      val p = math.pow(10, sc)
      if (x < 0) -math.floor(-x * p + 0.5) / p else math.floor(x * p + 0.5) / p
    }
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(round(col("value") * 100).cast("long").as("c"))
    val xdf = ev.select((col("c").cast("double") / 100).as("x"))
      .localCheckpoint() // read once per EM round
    val init = xdf.agg(
      M.oracleRound(expr("percentile(x, 0.25D)"), 4).as("mu1"),
      M.oracleRound(expr("percentile(x, 0.75D)"), 4).as("mu2")).head()
    val mom = ev.agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
      sum(col("c") * col("c")).as("s2")).head()
    val n = mom.getLong(0)
    val (s1, s2) = (mom.getLong(1), mom.getLong(2))
    val sg0 = rnd(math.sqrt(s2.toDouble / n -
      (s1.toDouble / n) * (s1.toDouble / n)) / 100, 4)
    var (mu1, sg1, pi1, mu2, sg2) =
      (init.getDouble(0), sg0, 0.5, init.getDouble(1), sg0)
    var lastN1 = 0.0
    for (_ <- 1 to 3) {
      val d1 = (col("x") - lit(mu1)) / lit(sg1)
      val d2 = (col("x") - lit(mu2)) / lit(sg2)
      val w1 = lit(pi1) * exp(lit(-0.5) * d1 * d1) / lit(sg1)
      val w2 = (lit(1.0) - lit(pi1)) * exp(lit(-0.5) * d2 * d2) / lit(sg2)
      val r1 = when(w1 + w2 > 0, M.oracleRound(w1 / (w1 + w2), 6))
        .otherwise(lit(0.5))
      val g = xdf.select(col("x"), r1.as("r1")).agg(
        sum(col("r1").cast("decimal(24,6)")).as("n1"),
        sum(M.oracleRound(col("r1") * col("x"), 6)
          .cast("decimal(28,6)")).as("sx1"),
        sum(M.oracleRound(col("r1") * col("x") * col("x"), 4)
          .cast("decimal(28,4)")).as("sxx1"),
        sum(M.oracleRound((lit(1.0) - col("r1")) * col("x"), 6)
          .cast("decimal(28,6)")).as("sx2"),
        sum(M.oracleRound((lit(1.0) - col("r1")) * col("x") * col("x"), 4)
          .cast("decimal(28,4)")).as("sxx2")).head()
      val n1 = g.getDecimal(0).doubleValue
      val (sx1, sxx1) = (g.getDecimal(1).doubleValue, g.getDecimal(2).doubleValue)
      val (sx2, sxx2) = (g.getDecimal(3).doubleValue, g.getDecimal(4).doubleValue)
      val n2 = n - n1
      mu1 = rnd(sx1 / n1, 6)
      sg1 = rnd(math.sqrt(math.max(sxx1 / n1 - mu1 * mu1, 0.0001)), 6)
      mu2 = rnd(sx2 / n2, 6)
      sg2 = rnd(math.sqrt(math.max(sxx2 / n2 - mu2 * mu2, 0.0001)), 6)
      pi1 = rnd(n1 / n, 6)
      lastN1 = n1
    }
    (mu1, sg1, pi1, mu2, sg2, lastN1, n)
  }

  // q463: mixture-density ANOMALY tail — the q460 fit REUSED (fit
  // once, score many: the model is six memoized driver doubles) to
  // score every event's unnormalized mixture density with the exact
  // E-step kernel shape, surfacing the 20 least-likely values. The
  // density is 6-dp-pinned before ranking (ties by event_id), so the
  // tail is deterministic cross-engine; the scan is map-only and the
  // top-k is a TakeOrdered, never a global sort.
  def gmmAnomaly(s: SparkSession, dir: String): DataFrame = {
    val (mu1, sg1, pi1, mu2, sg2, _, _) = gmmFit(s, dir)
    val x = col("c").cast("double") / 100
    val d1 = (x - lit(mu1)) / lit(sg1)
    val d2 = (x - lit(mu2)) / lit(sg2)
    val w1 = lit(pi1) * exp(lit(-0.5) * d1 * d1) / lit(sg1)
    val w2 = (lit(1.0) - lit(pi1)) * exp(lit(-0.5) * d2 * d2) / lit(sg2)
    Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_id"), round(col("value") * 100).cast("long").as("c"))
      .select(col("event_id"), x.as("x"),
        M.oracleRound(w1 + w2, 6).as("density"))
      .orderBy(col("density"), col("event_id"))
      .limit(20)
  }

  // q339: Hill tail-index estimator — the power-law exponent of the
  // order-value upper tail from the top-k order statistics:
  // α̂ = k / Σ_{i≤k} ln(x_i / x_(k+1)). q166 fits Zipf on token RANKS
  // and q331 fits Gumbel on block maxima; Hill is the third tail
  // tool — "how heavy is the spend distribution's tail" — and decides
  // whether mean-based revenue projections are even finite-variance
  // (α ≤ 2 ⇒ they are not). The top-(k+1) frame is selected by
  // (value DESC, key) — a deterministic row set under ties on both
  // sides — then everything is a 101-row micro-frame; at 100 TB the
  // only corpus-sized step is the top-k selection, which Spark runs
  // as per-partition partial top-k + a single merge, no global sort.
  def hillTail(s: SparkSession, dir: String): DataFrame = {
    val k = 100
    val top = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k + 1)
      .localCheckpoint() // 101 rows; re-windowed below
    val rn = top.coalesce(1)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))))
    val xref = rn.filter(col("rn") === k + 1)
      .select(col("o_totalprice").as("x_k1"))
    rn.filter(col("rn") <= k)
      .crossJoin(broadcast(xref))
      .agg(count(lit(1)).as("k"),
        max(col("x_k1")).as("x_k1"),
        sum(log(col("o_totalprice") / col("x_k1"))).as("slog"))
      .select(col("k"), col("x_k1"),
        M.oracleRound(col("slog"), 4).as("sum_log"),
        M.oracleRound(col("k").cast("double") / col("slog"), 4)
          .as("hill_alpha"))
  }

  // q341: top user paths — the first four event types per user in
  // event-time order, concatenated into a path signature and ranked
  // by user count: the product-analytics "how do sessions start"
  // table (q96 proves ONE funnel; this DISCOVERS which funnels to
  // prove). One user-partitioned window for the rank-≤4 prefix, one
  // conditional-min pivot per step (no per-user sort-and-collect),
  // one path-keyed count. Top-15 with (n DESC, path) — deterministic
  // LIMIT boundary.
  def topPaths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val steps = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type").as("t"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4)
      .groupBy("user_id")
      .agg(max(when(col("rn") === 1, col("t"))).as("s1"),
        max(when(col("rn") === 2, col("t"))).as("s2"),
        max(when(col("rn") === 3, col("t"))).as("s3"),
        max(when(col("rn") === 4, col("t"))).as("s4"))
    steps
      .select(concat_ws(">", col("s1"), col("s2"), col("s3"), col("s4"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(15)
  }

  // q342: association rules over the sampled co-purchase baskets —
  // q213 counts pairs, q92/q238 use them as graph edges; THIS emits
  // the market-basket decision numbers: support, both directional
  // confidences, and lift = n_ab·N/(n_a·n_b) (> 1 ⇔ positive
  // association beyond popularity). Everything is exact integer
  // counts composed in single-division double formulas; support
  // floor n_ab ≥ 2 bounds the rule frame at any scale (rare-pair
  // lift is noise — the q328 floor argument; 2 because the synthetic
  // baskets top out at pair count 2 across ALL sf dirs); top-20 by
  // pinned lift with (a,b) tiebreak.
  def assocRules(s: SparkSession, dir: String): DataFrame = {
    val pp = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .localCheckpoint()
    val nb = pp.select("l_orderkey").distinct().agg(count(lit(1)).as("nn"))
    val item = pp.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_i"))
    val pairs = GraphOps.basketPairs(pp, "l_orderkey", "l_partkey")
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
    pairs
      .join(item.select(col("l_partkey").as("a"), col("n_i").as("n_a")),
        Seq("a"))
      .join(item.select(col("l_partkey").as("b"), col("n_i").as("n_b")),
        Seq("b"))
      .crossJoin(broadcast(nb))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        M.oracleRound(col("n_ab").cast("double") / col("nn"), 4)
          .as("support"),
        M.oracleRound(col("n_ab").cast("double") / col("n_a"), 4)
          .as("conf_ab"),
        M.oracleRound(col("n_ab").cast("double") / col("n_b"), 4)
          .as("conf_ba"),
        M.oracleRound((col("n_ab") * col("nn")).cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 4).as("lift"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(20)
  }

  // q343: rolling 7-day OLS slope of the daily event count — q267
  // fits ONE global trend; this emits the trend AS OF each day over
  // its trailing week, the monitoring series a rollout dashboard
  // plots. Exact integers end-to-end: x = day index, y = count, so
  // slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) is a ratio of exact longs, one
  // double division, 4-dp pin. The daily frame is days-sized — the
  // ordered window runs on a coalesce(1) micro-frame BY CONTRACT
  // (q239's argument); the only corpus-sized step is the first keyed
  // count.
  def rollingSlope(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .coalesce(1)
      .withColumn("x", datediff(col("day"), lit("2024-01-01").cast("date"))
        .cast("long"))
    val w = Window.orderBy("x").rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .filter(col("n") === 7)
      .select(col("day"), col("y").as("n_events"),
        M.oracleRound(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"),
          4).as("slope_7d"))
      .orderBy("day")
  }

  // q344: Wilson score intervals for the q26 langid accuracy per
  // language — the eval-harness closer: q317 gives the confusion
  // matrix, q322 the chance-corrected kappa; Wilson gives each
  // per-class accuracy an HONEST small-n 95 % band (the normal
  // approximation misbehaves exactly where eval slices get thin).
  // z = 1.96 literal on both sides; all inputs exact integer counts,
  // the closed form evaluated in one identical double expression.
  def wilsonCi(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{TextFunctions => T}
    val z = 1.96
    val agg = Tables.documents(s, dir)
      .select(col("lang"), T.langId(col("text")).as("pred"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("lang"), 1L).otherwise(0L))
          .as("correct"))
    val p = col("correct").cast("double") / col("n").cast("double")
    val denom = lit(1.0) + lit(z * z) / col("n")
    val center = p + lit(z * z) / (lit(2.0) * col("n"))
    val spread = lit(z) * sqrt(p * (lit(1.0) - p) / col("n") +
      lit(z * z) / (lit(4.0) * col("n") * col("n")))
    agg.select(col("lang"), col("n"), col("correct"),
        M.oracleRound(p, 4).as("acc"),
        M.oracleRound((center - spread) / denom, 4).as("wilson_lo"),
        M.oracleRound((center + spread) / denom, 4).as("wilson_hi"))
      .orderBy("lang")
  }

  // q345: Goodman-Kruskal gamma between order value and the customer's
  // account balance — ORDINAL association where Spearman/Kendall
  // (q251/q252) work on raw ranks: gamma = (C−D)/(C+D) over
  // concordant/discordant pairs, computed EXACTLY from the 10×10
  // equal-width contingency grid (cell cross-products — never the n²
  // pair join; the grid form is how gamma scales). Equal-width bins
  // from exact min/max rather than ntile: ntile's tie placement is
  // row-order-dependent and NOT reproducible across engines, the
  // q310 lesson. Integer C and D, one double division.
  def gkGamma(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_acctbal"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_totalprice").as("x"), col("c_acctbal").as("y"))
    val mm = base.agg(min("x").as("xmn"), max("x").as("xmx"),
      min("y").as("ymn"), max("y").as("ymx"))
    val cells = base.crossJoin(broadcast(mm))
      .select(
        least(floor((col("x") - col("xmn")) * 10 /
          (col("xmx") - col("xmn"))), lit(9.0)).cast("long").as("i"),
        least(floor((col("y") - col("ymn")) * 10 /
          (col("ymx") - col("ymn"))), lit(9.0)).cast("long").as("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("n"))
      .localCheckpoint() // ≤100 rows; self-joined below
    val prods = cells.select(col("i").as("i1"), col("j").as("j1"),
        col("n").as("n1"))
      .crossJoin(cells.select(col("i").as("i2"), col("j").as("j2"),
        col("n").as("n2")))
    val cd = prods.agg(
      sum(when(col("i2") > col("i1") && col("j2") > col("j1"),
        col("n1") * col("n2")).otherwise(0L)).as("c"),
      sum(when(col("i2") > col("i1") && col("j2") < col("j1"),
        col("n1") * col("n2")).otherwise(0L)).as("d"))
    cd.select(col("c").as("concordant"), col("d").as("discordant"),
      M.oracleRound((col("c") - col("d")).cast("double") /
        (col("c") + col("d")).cast("double"), 4).as("gamma"))
  }

  // q346: Freedman–Diaconis bin-width design — the histogram
  // calculator that tells q72's fixed-width histogram what its width
  // SHOULD be per group: h = 2·IQR/n^⅓ from the exact interpolated
  // quartiles (Spark percentile() ≡ DuckDB quantile_cont, the q50
  // equivalence), bin count = ceil(range/h) with BOTH h and the ratio
  // 6-dp-pinned before the ceil so a last-ulp difference can never
  // flip the integer. One group-keyed aggregate; design-table sized
  // output.
  def fdBins(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        M.oracleRound(expr("percentile(l_extendedprice, 0.25)"), 4)
          .as("q25"),
        M.oracleRound(expr("percentile(l_extendedprice, 0.75)"), 4)
          .as("q75"),
        min("l_extendedprice").as("mn"), max("l_extendedprice").as("mx"))
    agg
      .withColumn("h", M.oracleRound(
        lit(2.0) * (col("q75") - col("q25")) /
          pow(col("n").cast("double"), 1.0 / 3.0), 6))
      .select(col("l_returnflag"), col("n"), col("q25"), col("q75"),
        M.oracleRound(col("q75") - col("q25"), 4).as("iqr"),
        col("h").as("bin_width"),
        ceil(M.oracleRound((col("mx") - col("mn")) / col("h"), 6))
          .cast("long").as("n_bins"))
      .orderBy("l_returnflag")
  }

  /** Shared daily-count micro-frame for the time-series diagnostics
    * family (q351–q353): one corpus-sized keyed count, then a
    * coalesce(1) days-sized frame whose ordered windows are
    * single-partition BY CONTRACT (the q239 argument). */
  private def dailyCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .coalesce(1)

  // q351: permutation entropy (order 3) of the daily count series —
  // the NONLINEAR complexity screen the variance-based panel (ACF
  // q239, STL q241, CUSUM q292) cannot see: how uniformly are the six
  // ordinal patterns of (x_t, x_{t+1}, x_{t+2}) used? White noise →
  // H/ln6 ≈ 1, a monotone or strictly periodic series → far below.
  // Ties resolved by the ≤-convention (earlier position ranks first),
  // stated identically in the oracle. Integer pattern counts, one
  // ln-fold over a ≤6-row frame.
  def permEntropy(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
    val pats = dailyCounts(s, dir)
      .withColumn("b", lead(col("x"), 1).over(w))
      .withColumn("c", lead(col("x"), 2).over(w))
      .filter(col("c").isNotNull)
      .select((when(col("x") <= col("b"), 4).otherwise(0) +
        when(col("b") <= col("c"), 2).otherwise(0) +
        when(col("x") <= col("c"), 1).otherwise(0)).as("pattern"))
      .groupBy("pattern").agg(count(lit(1)).as("n"))
    val tot = pats.agg(sum("n").as("nn"),
      count(lit(1)).as("n_patterns"))
    pats.crossJoin(broadcast(tot))
      .agg(max(col("nn")).as("n_windows"),
        max(col("n_patterns")).as("n_patterns"),
        sum(-(col("n").cast("double") / col("nn")) *
          log(col("n").cast("double") / col("nn"))).as("h_raw"))
      .select(col("n_windows"), col("n_patterns"),
        M.oracleRound(col("h_raw"), 4).as("h_nats"),
        M.oracleRound(col("h_raw") / log(lit(6.0)), 4).as("h_norm"))
  }

  // q352: Ljung–Box portmanteau whiteness test at lags 1..7 — turns
  // q239's ACF VALUES into a DECISION: Q = n(n+2)·Σ r_k²/(n−k),
  // χ²(7) 5 % critical value 14.067. If Q rejects, the i.i.d.
  // assumptions behind q194's bootstrap and q343's per-window OLS
  // need the autocorrelation taken seriously. Same pinned-mean,
  // exact-deviation-sum ACF machinery as q239 (r_k pinned 6 dp
  // before squaring); the series frame is days-sized.
  def ljungBox(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCounts(s, dir)
      .select(col("day"), col("x").cast("double").as("x"))
    val m = daily.agg(M.oracleRound(avg(col("x")), 6).as("m"))
    val w = Window.orderBy("day")
    var dev = daily.crossJoin(broadcast(m))
      .withColumn("d", col("x") - col("m"))
    for (k <- 1 to 7)
      dev = dev.withColumn(s"d$k", lag(col("d"), k).over(w))
    val aggCols = Seq(
      sum(col("d") * col("d")).as("den")) ++
      (1 to 7).map(k => sum(col("d") * col(s"d$k")).as(s"num$k"))
    val agg = dev.agg(count(lit(1)).as("n"), aggCols: _*)
    val rks = (1 to 7).map(k =>
      M.oracleRound(col(s"num$k") / col("den"), 6).as(s"r$k"))
    val q = (1 to 7).map(k =>
        col(s"r$k") * col(s"r$k") / (col("n") - k).cast("double"))
      .reduce(_ + _) * col("n").cast("double") * (col("n") + 2)
    agg.select((col("n") +: rks): _*)
      .select(col("n").as("n_days"),
        M.oracleRound(q, 4).as("q_stat"),
        lit(7).as("df"),
        when(q > 14.067, 1).otherwise(0).as("reject_white"))
  }

  /** Dense hourly-count series over the full event time range —
    * missing hours are real zeros (R/S and spectral analysis are
    * meaningless on a gappy axis). The grid is time-RANGE-sized
    * (hours), not corpus-sized: the only corpus-sized work is the one
    * groupBy(hour) count (map-side partial agg, shuffles on the hour
    * key); the left join against the generated grid is a tiny
    * broadcast, and the coalesce(1) ordered-window contract from
    * [[dailyCounts]] applies unchanged to the hours-sized result. */
  private def hourlyCounts(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val cnt = ev.groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
    ev.agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 hour"))).as("hr"))
      .join(cnt, Seq("hr"), "left")
      .select(col("hr"), coalesce(col("c"), lit(0L)).as("x"))
      .coalesce(1)
  }

  // q354: Hurst exponent by rescaled-range analysis over the dense
  // hourly series — the long-memory diagnostic the whiteness panel
  // (q352) cannot give: H≈0.5 no memory, H→1 persistent load trends,
  // H→0 mean reversion. Block sizes are POWERS OF TWO so every block
  // mean, deviation, cumulative sum and sum of squares is exact in
  // binary (integer counts over 2^k) — R and S are order-independent
  // and engine-identical before any rounding. R/S pins 6 dp before
  // the per-size mean; H is a closed-form 4-point OLS in log-log.
  def hurstRs(s: SparkSession, dir: String): DataFrame = {
    val idx = hourlyCounts(s, dir)
      .withColumn("t",
        row_number().over(Window.orderBy("hr")).cast("long") - 1)
    val sized = idx
      .withColumn("n", explode(array(Seq(8L, 16L, 32L, 64L).map(lit): _*)))
      .withColumn("blk", floor(col("t") / col("n")).cast("long"))
    val wBlk = Window.partitionBy("n", "blk")
    val dev = sized
      .withColumn("bn", count(lit(1)).over(wBlk))
      .filter(col("bn") === col("n"))
      .withColumn("d", col("x").cast("double") -
        sum(col("x")).over(wBlk).cast("double") / col("n"))
    val rs = dev
      .withColumn("cd", sum(col("d")).over(
        Window.partitionBy("n", "blk").orderBy("t")))
      .groupBy("n", "blk")
      .agg((max("cd") - min("cd")).as("r"),
        sqrt(sum(col("d") * col("d")) / col("n")).as("sd"))
      .filter(col("sd") > 0)
      .groupBy("n")
      .agg(count(lit(1)).as("n_blocks"),
        M.oracleRound(avg(M.oracleRound(col("r") / col("sd"), 6)), 6)
          .as("rs"))
    val lx = log(col("n").cast("double"))
    val ly = log(col("rs"))
    val ols = rs.agg(count(lit(1)).cast("double").as("k"),
      sum(lx).as("sx"), sum(ly).as("sy"),
      sum(lx * ly).as("sxy"), sum(lx * lx).as("sxx"))
    rs.crossJoin(broadcast(ols))
      .agg(
        max(when(col("n") === 8, col("rs"))).as("rs_8"),
        max(when(col("n") === 16, col("rs"))).as("rs_16"),
        max(when(col("n") === 32, col("rs"))).as("rs_32"),
        max(when(col("n") === 64, col("rs"))).as("rs_64"),
        M.oracleRound(max(
          (col("k") * col("sxy") - col("sx") * col("sy")) /
            (col("k") * col("sxx") - col("sx") * col("sx"))), 4)
          .as("hurst"))
  }

  // q355: DFT periodogram of the dense hourly series at integer
  // periods 2..48 h — surfaces the dominant cycles (the 24 h diurnal
  // line) that q239's few-lag ACF only hints at. Determinism by
  // fixed-point quantization (the q200 Goertzel trick): trig factors
  // round to 1e-6 integers and the series is centered with INTEGER
  // numerators d·N = x·N − Σx, so both spectral sums are exact
  // BIGINTs (≤ ~1e14 ≪ 2^53 — also exact as doubles); floating point
  // appears only in the final square-and-scale, pinned 4 dp. Rank is
  // computed AFTER rounding, tie-broken by period, so it is
  // engine-stable by construction.
  def periodogram(s: SparkSession, dir: String): DataFrame = {
    val idx = hourlyCounts(s, dir)
      .withColumn("t",
        row_number().over(Window.orderBy("hr")).cast("long") - 1)
    val tot = idx.agg(count(lit(1)).as("nn"), sum("x").as("sx"))
    val terms = idx.crossJoin(broadcast(tot))
      .withColumn("p", explode(sequence(lit(2L), lit(48L))))
      .withColumn("dn", col("x") * col("nn") - col("sx"))
      .withColumn("arg", lit(2.0 * math.Pi) *
        (col("t") % col("p")).cast("double") / col("p").cast("double"))
      .withColumn("cq", M.oracleRound(cos(col("arg")) * 1e6, 0).cast("long"))
      .withColumn("sq", M.oracleRound(sin(col("arg")) * 1e6, 0).cast("long"))
    val pw = terms.groupBy("p")
      .agg(sum(col("dn") * col("cq")).as("cs"),
        sum(col("dn") * col("sq")).as("ss"),
        max(col("nn")).as("nn"))
      .select(col("p").as("period"),
        M.oracleRound(
          (col("cs").cast("double") * col("cs").cast("double") +
            col("ss").cast("double") * col("ss").cast("double")) /
            (col("nn").cast("double") * col("nn").cast("double")) / 1e12,
          4).as("power"))
    pw.withColumn("rnk", row_number().over(
        Window.orderBy(col("power").desc, col("period"))))
      .orderBy("period")
  }

  // q356: Mann–Kendall trend test with the exact tie correction — the
  // DECISION companion to Theil–Sen's q248 slope: S and VAR(S) are
  // pure integer arithmetic (pairwise signs over a days-sized frame —
  // the q248 n²-ON-DAYS argument: 30 days → 435 pairs regardless of
  // corpus scale), z gets the ±1 continuity correction, two-sided 5 %
  // decision at |z| > 1.96 taken on the 4-dp-pinned z.
  def mannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCounts(s, dir)
    val a = daily.select(col("day").as("da"), col("x").as("xa"))
    val b = daily.select(col("day").as("db"), col("x").as("xb"))
    val sStat = a.join(b, col("da") < col("db"))
      .agg(sum(when(col("xb") > col("xa"), 1L)
        .when(col("xb") < col("xa"), -1L).otherwise(0L)).as("s_stat"))
    val ties = daily.groupBy("x").agg(count(lit(1)).as("tt"))
      .agg(sum(col("tt") * (col("tt") - 1) * (lit(2) * col("tt") + 5))
          .as("tie_term"),
        sum(col("tt")).as("n"))
    val varS = (col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) -
      col("tie_term")).cast("double") / 18.0
    val zRaw = when(col("s_stat") > 0,
        (col("s_stat").cast("double") - 1.0) / sqrt(col("var_s")))
      .when(col("s_stat") < 0,
        (col("s_stat").cast("double") + 1.0) / sqrt(col("var_s")))
      .otherwise(0.0)
    sStat.crossJoin(ties)
      .withColumn("var_s", M.oracleRound(varS, 4))
      .withColumn("z", M.oracleRound(zRaw, 4))
      .select(col("n").cast("long").as("n_days"), col("s_stat"),
        col("var_s"), col("z"),
        when(col("z") > 1.96, 1).when(col("z") < -1.96, -1)
          .otherwise(0).as("trend"))
  }

  // q353: Wald–Wolfowitz runs test on the daily series vs its median
  // — the distribution-free randomness check that catches level
  // regimes (too FEW runs) and alternation (too MANY) which both
  // leave the marginal distribution — and hence KS/PSI — untouched.
  // Median-equal days drop (standard), runs counted by sign changes
  // in one ordered pass, z from the exact integer run/arm counts in
  // the closed form written identically on both sides.
  def runsTest(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCounts(s, dir)
      .select(col("day"), col("x").cast("double").as("x"))
    val med = daily.agg(
      M.oracleRound(expr("percentile(x, 0.5)"), 6).as("med"))
    val w = Window.orderBy("day")
    val signs = daily.crossJoin(broadcast(med))
      .filter(col("x") =!= col("med"))
      .withColumn("s", when(col("x") > col("med"), 1).otherwise(0))
      .withColumn("chg",
        when(lag(col("s"), 1).over(w).isNull ||
          lag(col("s"), 1).over(w) =!= col("s"), 1).otherwise(0))
    val agg = signs.agg(count(lit(1)).as("n"),
      sum("s").as("n1"), sum(col("chg")).as("runs"))
    val n1 = col("n1").cast("double")
    val n2 = (col("n") - col("n1")).cast("double")
    val nn = col("n").cast("double")
    val e = lit(2.0) * n1 * n2 / nn + 1.0
    val v = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - nn) /
      (nn * nn * (nn - 1.0))
    agg.select(col("n").as("n_days"), col("n1").as("n_above"),
      (col("n") - col("n1")).as("n_below"), col("runs"),
      M.oracleRound(e, 4).as("expected_runs"),
      M.oracleRound((col("runs").cast("double") - e) / sqrt(v), 4)
        .as("z"))
  }

  // q357: effect-size panel for click vs view values — the MAGNITUDE
  // companion to the decision tests (q253 Welch, q289 Mann–Whitney):
  // Cohen's d / Hedges' g (parametric) and Cliff's delta (ordinal,
  // from the same midrank histogram as q289 — no pairwise pass).
  // Determinism: values are 2-decimal by data contract, so the
  // integer recode vi = round(100·v) makes every moment sum EXACT
  // (Σvi, Σvi² are BIGINTs; at extreme corpus scale these would move
  // to DECIMAL(38), same plan shape); effect sizes are scale-free so
  // the ×100 cancels, means report /100. One corpus-sized groupBy
  // for moments + the q289 two-level cum-count histogram for delta.
  def effectSizes(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type").as("grp"),
        M.oracleRound(col("value") * 100, 0).cast("long").as("vi"))
    val mom = ev.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("vi").as("sv"),
        sum(col("vi") * col("vi")).as("ssv"))
      .agg(
        max(when(col("grp") === "click", col("n"))).as("n1"),
        max(when(col("grp") === "click", col("sv"))).as("s1"),
        max(when(col("grp") === "click", col("ssv"))).as("ss1"),
        max(when(col("grp") === "view", col("n"))).as("n2"),
        max(when(col("grp") === "view", col("sv"))).as("s2"),
        max(when(col("grp") === "view", col("ssv"))).as("ss2"))
    val hist = ev.groupBy(lit(0).as("g"), col("vi").as("v"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("grp") === "click", 1L).otherwise(0L)).as("cnt_a"))
    val ranks = bucketedCumCounts(hist, Seq("g"))
      .agg(sum(col("cnt_a") *
        (lit(2) * (col("cum") - col("cnt")) + col("cnt") + 1)).as("two_r1"))
    val n1d = col("n1").cast("double"); val n2d = col("n2").cast("double")
    val m1 = col("s1").cast("double") / n1d
    val m2 = col("s2").cast("double") / n2d
    val var1 = (col("ss1").cast("double") - m1 * m1 * n1d) / (n1d - 1)
    val var2 = (col("ss2").cast("double") - m2 * m2 * n2d) / (n2d - 1)
    val sp = sqrt(((n1d - 1) * var1 + (n2d - 1) * var2) / (n1d + n2d - 2))
    val d = (m1 - m2) / sp
    val g = d * (lit(1.0) - lit(3.0) / (lit(4.0) * (n1d + n2d) - 9.0))
    // U1 = R1 − n1(n1+1)/2 with 2·R1 integer-exact from the histogram
    val u1 = col("two_r1").cast("double") / 2 - n1d * (n1d + 1) / 2
    mom.crossJoin(ranks)
      .select(col("n1").as("n_click"), col("n2").as("n_view"),
        M.oracleRound(m1 / 100, 4).as("mean_click"),
        M.oracleRound(m2 / 100, 4).as("mean_view"),
        M.oracleRound(d, 4).as("cohen_d"),
        M.oracleRound(g, 4).as("hedges_g"),
        M.oracleRound(lit(2.0) * u1 / (n1d * n2d) - 1.0, 4)
          .as("cliff_delta"))
  }

  // q363: Haar wavelet energy decomposition of the hourly series —
  // the multi-RESOLUTION variance split (which timescale carries the
  // volatility?) that complements the frequency view (q355): level l
  // detail energy isolates fluctuations at the 2^l-hour scale. No
  // recursion: detail_{l,k} = (2·P[a+h] − P[a] − P[a+2h])/2^l from
  // ONE prefix-sum pass (h = 2^(l−1), a = k·2^l over the first 512
  // hours), so every coefficient is integer-over-power-of-two — exact
  // in binary on both engines; only the final energy/share round.
  // The (l, k) grid is 511 rows; joins to the prefix frame broadcast.
  def haarEnergy(s: SparkSession, dir: String): DataFrame = {
    val cum = hourlyCounts(s, dir)
      .withColumn("t",
        row_number().over(Window.orderBy("hr")).cast("long") - 1)
      .filter(col("t") < 512)
      .withColumn("c", sum("x").over(
        Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)))
      .select("t", "c")
    val grid = s.range(1, 10).toDF("l")
      .withColumn("h", pow(lit(2.0), col("l") - 1).cast("long"))
      .withColumn("k", explode(sequence(lit(0L),
        (lit(256L) / col("h")).cast("long") - 1)))
      .withColumn("a", col("k") * 2 * col("h"))
    def pAt(alias: String) =
      cum.select(col("t").as(s"__t$alias"), col("c").as(alias))
    val d = grid
      .join(pAt("c0"), col("a") - 1 === col("__tc0"), "left")
      .join(pAt("c1"), col("a") + col("h") - 1 === col("__tc1"))
      .join(pAt("c2"),
        col("a") + lit(2L) * col("h") - 1 === col("__tc2"))
      .withColumn("d",
        (lit(2) * col("c1") - coalesce(col("c0"), lit(0L)) - col("c2"))
          .cast("double") / pow(lit(2.0), col("l")))
    val perLevel = d.groupBy("l")
      .agg(count(lit(1)).as("n_coeffs"), sum(col("d") * col("d")).as("e"))
    val tot = perLevel.agg(sum("e").as("etot"))
    perLevel.crossJoin(broadcast(tot))
      .select(col("l").as("level"), col("n_coeffs"),
        M.oracleRound(col("e"), 4).as("energy"),
        M.oracleRound(col("e") / col("etot"), 4).as("energy_share"))
      .orderBy("level")
  }

  // q364: exact two-hop harmonic centrality over the q93 symmetrized
  // part↔supplier graph — the EXACT small-radius companion to q260's
  // HyperANF estimates: h2(v) = |N1(v)| + |N2(v)|/2, N2 = nodes at
  // distance exactly 2 (one edges⋈edges join, DISTINCT per endpoint
  // pair, anti-join removes distance-1 shortcuts). Top-20 by
  // (h2 desc, node) AFTER the exact integer-and-half arithmetic —
  // no rounding anywhere. Scale: the 2-hop join shuffles on the
  // middle vertex; the sampled co-occurrence graph keeps wedge
  // volume linear in orders (the q92 argument).
  def harmonic2(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select((col("l_partkey") * 2).as("p"),
        (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
      .localCheckpoint()
    val edges = pairs.select(col("p").as("src"), col("sp").as("dst"))
      .union(pairs.select(col("sp").as("src"), col("p").as("dst")))
    val n1 = edges.groupBy("src").agg(count(lit(1)).as("d1"))
    val two = edges.as("e1")
      .join(edges.as("e2"), col("e1.dst") === col("e2.src"))
      .filter(col("e2.dst") =!= col("e1.src"))
      .select(col("e1.src").as("src"), col("e2.dst").as("dst"))
      .distinct()
      .join(edges, Seq("src", "dst"), "left_anti")
      .groupBy("src").agg(count(lit(1)).as("d2"))
    n1.join(two, Seq("src"), "left")
      .withColumn("h2", col("d1").cast("double") +
        coalesce(col("d2"), lit(0L)).cast("double") / 2)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("h2").desc, col("src"))))
      .filter(col("rnk") <= 20)
      .select(col("src").as("node"), col("d1").as("n_1hop"),
        coalesce(col("d2"), lit(0L)).as("n_2hop"), col("h2"),
        col("rnk"))
      .orderBy("rnk")
  }

  // q366: inter-arrival burstiness per event type — the Poisson
  // sanity check capacity models assume away: per (type, user) gap
  // series (the scalable partition — per-type-only lag would put a
  // fifth of the corpus in one window partition), CV of the gap
  // distribution from exact integer second sums, Goh–Barabási
  // burstiness B = (CV−1)/(CV+1): B≈0 memoryless, B→1 bursty,
  // B→−1 pacemaker-regular.
  def interArrival(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type", "user_id").orderBy("sec", "event_id")
    val gaps = Tables.events(s, dir)
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_seconds(col("ts")).as("sec"))
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
      .filter(col("gap").isNotNull)
    gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"), sum("gap").as("sg"),
        sum(col("gap") * col("gap")).as("ssg"))
      .withColumn("mean_s", col("sg").cast("double") / col("n_gaps"))
      .withColumn("cv_raw", sqrt(
        col("ssg").cast("double") / col("n_gaps") -
          col("mean_s") * col("mean_s")) / col("mean_s"))
      .select(col("event_type"), col("n_gaps"),
        M.oracleRound(col("mean_s"), 4).as("mean_gap_s"),
        M.oracleRound(col("cv_raw"), 4).as("cv"),
        M.oracleRound((col("cv_raw") - 1) / (col("cv_raw") + 1), 4)
          .as("burstiness"))
      .orderBy("event_type")
  }

  // q367: ABC/Pareto revenue classification of parts — the inventory
  // 80/95 cut as a DISTRIBUTED cumulative-share problem: per-part
  // revenue in exact integer cents, then the q58 two-level bucketed
  // cumulative sum over the (revenue-descending) value histogram —
  // no parts-sized single-partition window. Ties (equal-revenue
  // parts) collapse into one histogram row and therefore share a
  // class by construction; the class gate compares integer products
  // (100·cum_exclusive vs threshold·total), no floating point.
  def abcClasses(s: SparkSession, dir: String): DataFrame = {
    val cents = (M.oracleRound(
      col("l_extendedprice") * (lit(1) - col("l_discount")), 2) * 100)
    val rev = Tables.lineitem(s, dir)
      .groupBy("l_partkey")
      .agg(sum(M.oracleRound(cents, 0).cast("long")).as("r"))
    val hist = rev.groupBy(lit(0).as("g"), (-col("r")).as("v"))
      .agg(count(lit(1)).as("np"), sum("r").as("cnt"))
    val cum = bucketedCumCounts(hist, Seq("g"))
    val classed = cum.withColumn("excl", col("cum") - col("cnt"))
      .withColumn("cls",
        when(col("excl") * 100 < col("n") * 80, "A")
          .when(col("excl") * 100 < col("n") * 95, "B")
          .otherwise("C"))
    classed.groupBy("cls")
      .agg(sum("np").as("n_parts"), sum("cnt").as("revenue_cents"),
        max("n").as("tot"))
      .select(col("cls"), col("n_parts"), col("revenue_cents"),
        M.oracleRound(col("revenue_cents").cast("double") /
          col("tot").cast("double"), 4).as("revenue_share"))
      .orderBy("cls")
  }

  // q394: cumulative gains / lift table for the q221 score — the
  // model-eval staple AUROC (q236) summarizes away: decile users by
  // score (exact integer md5 scores, row_number tie-broken by id),
  // report per-decile and cumulative positive capture vs the random
  // baseline. One corpus-sized window partitioned by nothing BUT over
  // integer ranks — restated as the two-level histogram at scale
  // (documented; decile boundaries are score-value cuts).
  def gainsTable(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.embeddings(s, dir).select(
      col("vec_id"),
      T.md5Int(concat(lit("cal:"), col("vec_id")), 4).as("sc"),
      when(col("label") < 5, 1L).otherwise(0L).as("pos"))
    val ranked = scored.withColumn("decile",
      (ntile(10).over(Window.orderBy(col("sc").desc, col("vec_id")))
        - 1).cast("long"))
    val dec = ranked.groupBy("decile")
      .agg(count(lit(1)).as("n"), sum("pos").as("np"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy()
    dec
      .withColumn("cum_n", sum("n").over(w))
      .withColumn("cum_np", sum("np").over(w))
      .withColumn("tot_n", sum("n").over(tot))
      .withColumn("tot_np", sum("np").over(tot))
      .select(col("decile"), col("n"), col("np"),
        M.oracleRound(col("cum_np").cast("double") / col("tot_np"), 4)
          .as("cum_capture"),
        M.oracleRound((col("cum_np").cast("double") / col("cum_n")) /
          (col("tot_np").cast("double") / col("tot_n")), 4).as("lift"))
      .orderBy("decile")
  }

  // q395: MATCH_RECOGNIZE-style sequence pattern over sessions — the
  // SQL-2016 row-pattern class, Spark-first: each session's ordered
  // event types collapse to an initials string inside ONE
  // aggregation, and the pattern CLICK (VIEW)* PURCHASE (anchored as
  // a contiguous run) is a regex on that string — codegen'd
  // regexp_count per session, no per-row state machine. Sessions are
  // the q54 convention (30-min gaps, (ts, event_id) order).
  def sessionPatternMatch(s: SparkSession, dir: String): DataFrame = {
    val wUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("new_s",
        when(col("us") - lag(col("us"), 1).over(wUser) >
          lit(30L * 60 * 1000000), 1L)
          .when(lag(col("us"), 1).over(wUser).isNull, 1L).otherwise(0L))
      .withColumn("sess", sum("new_s").over(
        wUser.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("ini", substring(col("event_type"), 1, 1))
    val sessions = ev
      .withColumn("seq", concat_ws("",
        collect_list(col("ini")).over(
          Window.partitionBy("user_id", "sess").orderBy("us", "event_id")
            .rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing))))
      .groupBy("user_id", "sess")
      .agg(first("seq").as("seq"), count(lit(1)).as("n_events"))
    sessions
      .withColumn("matched",
        when(regexp_count(col("seq"), lit("cv*p")) > 0, 1L)
          .otherwise(0L))
      .agg(count(lit(1)).as("n_sessions"),
        sum("matched").as("n_matched"),
        M.oracleRound(avg(col("n_events")), 4).as("mean_events"),
        M.oracleRound(sum("matched").cast("double") / count(lit(1)), 4)
          .as("match_rate"))
  }

  // q396: two-sample energy distance between the click and view DAILY
  // count distributions — the two-sample test that generalizes to
  // any metric space where KS/CvM cannot: 2·E|X−Y| − E|X−X'| −
  // E|Y−Y'| over the days-sized frames (30×30 pairwise |diffs| of
  // INTEGERS — the q248 n²-ON-DAYS argument), with the classical
  // E-statistic scaling n·m/(n+m).
  def energyDistance(s: SparkSession, dir: String): DataFrame = {
    def daySeries(t: String) = Tables.events(s, dir)
      .filter(col("event_type") === t)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .select(col("x"))
    val a = daySeries("click").select(col("x").as("xa"))
    val b = daySeries("view").select(col("x").as("xb"))
    val exy = a.crossJoin(b)
      .agg(sum(abs(col("xa") - col("xb"))).as("sxy"),
        count(lit(1)).as("nm"))
    val exx = a.crossJoin(a.select(col("xa").as("xa2")))
      .agg(sum(abs(col("xa") - col("xa2"))).as("sxx"),
        count(lit(1)).as("nn"))
    val eyy = b.crossJoin(b.select(col("xb").as("xb2")))
      .agg(sum(abs(col("xb") - col("xb2"))).as("syy"),
        count(lit(1)).as("mm"))
    exy.crossJoin(exx).crossJoin(eyy)
      .withColumn("n", sqrt(col("nn").cast("double")))
      .withColumn("m", sqrt(col("mm").cast("double")))
      .withColumn("e",
        lit(2.0) * col("sxy") / col("nm") -
          col("sxx").cast("double") / col("nn") -
          col("syy").cast("double") / col("mm"))
      .select(col("n").cast("long").as("n_days_a"),
        col("m").cast("long").as("n_days_b"),
        M.oracleRound(col("e"), 4).as("energy_dist"),
        M.oracleRound(col("e") * (col("n") * col("m") /
          (col("n") + col("m"))), 4).as("e_statistic"))
  }

  // q391: split-conformal prediction audit — distribution-free
  // uncertainty for the per-type value predictor: md5 thirds give
  // train/calibration/test folds, the predictor is the train-fold
  // integer mean per type, q̂ is the k = ⌈(n_cal+1)·0.9⌉-th smallest
  // calibration |residual| (EXACT order statistic off an integer
  // residual histogram — the q58 cum-count shape, no sort), and the
  // test row reports empirical coverage of pred ± q̂ against the 90 %
  // target. Residuals stay integers end to end.
  def conformalAudit(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"),
        M.oracleRound(col("value") * 100, 0).cast("long").as("vi"),
        (T.md5Int(concat(lit("cf:"), col("event_id").cast("string")), 8)
          % 3).as("fold"))
    val pred = ev.filter(col("fold") === 0)
      .groupBy("event_type")
      .agg(M.oracleRound(sum("vi").cast("double") / count(lit(1)), 0)
        .cast("long").as("pv"))
    val cal = ev.filter(col("fold") === 1)
      .join(broadcast(pred), Seq("event_type"))
      .select(abs(col("vi") - col("pv")).as("r"))
    val hist = cal.groupBy("r").agg(count(lit(1)).as("cnt"))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    // exact k-th smallest via cumulative counts over the residual
    // histogram (global window over DISTINCT residuals — bounded by
    // the value domain, not the corpus)
    val qhat = hist.crossJoin(broadcast(nCal))
      .withColumn("cum", sum("cnt").over(
        Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("k", ceil((col("n_cal") + 1) * 0.9).cast("long"))
      .filter(col("cum") >= col("k"))
      .agg(min("r").as("qh"), max(col("n_cal")).as("n_cal"))
    val test = ev.filter(col("fold") === 2)
      .join(broadcast(pred), Seq("event_type"))
      .crossJoin(broadcast(qhat))
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs(col("vi") - col("pv")) <= col("qh"), 1L)
          .otherwise(0L)).as("n_covered"),
        max(col("qh")).as("qh"), max(col("n_cal")).as("n_cal"))
    val nTrain = ev.filter(col("fold") === 0)
      .agg(count(lit(1)).as("n_train"))
    test.crossJoin(broadcast(nTrain))
      .select(col("n_train"), col("n_cal"), col("n_test"),
        M.oracleRound(col("qh").cast("double") / 100.0, 4)
          .as("qhat_value"),
        M.oracleRound(col("n_covered").cast("double") / col("n_test"),
          4).as("coverage"),
        lit(0.9).as("target"))
  }

  // q392: group-fairness audit of the q26 language classifier across
  // sources — selection rate (demographic parity), TPR and FPR per
  // group for the pred-is-English decision, plus an '__overall' row
  // carrying the min/max parity ratio. The responsible-AI table every
  // scored filter owes its consumers; one corpus-sized projection,
  // groups-sized tail.
  def fairnessAudit(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir)
      .select(col("source"),
        (T.langId(col("text")) === "en").as("pred_pos"),
        (col("lang") === "en").as("act_pos"))
    val g = scored.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred_pos"), 1L).otherwise(0L)).as("np"),
        sum(when(col("act_pos"), 1L).otherwise(0L)).as("na"),
        sum(when(col("pred_pos") && col("act_pos"), 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("pred_pos") && !col("act_pos"), 1L).otherwise(0L))
          .as("fp"))
    val rows = g.select(col("source").as("group"), col("n_docs"),
      M.oracleRound(col("np").cast("double") / col("n_docs"), 4)
        .as("sel_rate"),
      when(col("na") > 0, M.oracleRound(
        col("tp").cast("double") / col("na"), 4)).as("tpr"),
      when(col("n_docs") - col("na") > 0, M.oracleRound(
        col("fp").cast("double") / (col("n_docs") - col("na")), 4))
        .as("fpr"))
    val par = rows.agg(
      sum(col("n_docs")).as("n_docs"),
      M.oracleRound(min("sel_rate") /
        greatest(max("sel_rate"), lit(1e-12)), 4).as("parity"))
    val overall = par.select(lit("__overall").as("group"),
      col("n_docs"), col("parity").as("sel_rate"),
      lit(null).cast("double").as("tpr"),
      lit(null).cast("double").as("fpr"))
    rows.unionByName(overall).orderBy("group")
  }

  // q393: Shapley-value channel attribution — the game-theoretic
  // upgrade of rule-based credit (q235): users carry a 4-bit touched-
  // channel mask (click/error/signup/view; purchase = conversion),
  // v(S) is the conversion rate of users with EXACTLY that coalition,
  // and each channel's phi sums w(|S|)·(v(S∪i)−v(S)) over the 8
  // subsets not containing it, w = |S|!·(4−|S|−1)!/4!. The coalition
  // table is 16 rows — the whole Shapley computation is a literal
  // subset frame joined twice against the mask rates; only the mask
  // aggregation is corpus-sized.
  def shapleyChannels(s: SparkSession, dir: String): DataFrame = {
    val chans = Seq("click", "error", "signup", "view")
    val mask = chans.zipWithIndex.map { case (c, i) =>
      max(when(col("event_type") === c, lit(1L << i)).otherwise(0L))
    }.reduce(_ + _)
    val users = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(mask.as("m"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
    val rates = users.groupBy("m")
      .agg(count(lit(1)).as("nu"), sum("conv").as("nc"))
      .select(col("m"),
        M.oracleRound(col("nc").cast("double") / col("nu"), 6).as("v"))
    def pop(c: Column): Column =
      (c % 2) + floor(c / 2) % 2 + floor(c / 4) % 2 + floor(c / 8) % 2
    val subsets = s.range(0, 16).toDF("s0")
      .withColumn("i", explode(sequence(lit(0), lit(3))))
      .filter((floor(col("s0") / pow(lit(2.0), col("i"))).cast("long")
        % 2) === 0)
      .withColumn("s1", col("s0") +
        pow(lit(2.0), col("i")).cast("long"))
      .withColumn("sz", pop(col("s0")).cast("int"))
      .withColumn("w",
        when(col("sz") === 0, 6.0 / 24).when(col("sz") === 1, 2.0 / 24)
          .when(col("sz") === 2, 2.0 / 24).otherwise(6.0 / 24))
    val phi = subsets
      .join(rates.select(col("m").as("s0"), col("v").as("v0")),
        Seq("s0"), "left")
      .join(rates.select(col("m").as("s1"), col("v").as("v1")),
        Seq("s1"), "left")
      .groupBy("i")
      .agg(M.oracleRound(sum(col("w") *
        (coalesce(col("v1"), lit(0.0)) - coalesce(col("v0"), lit(0.0)))),
        4).as("phi"))
    val names = {
      import s.implicits._
      chans.zipWithIndex.map { case (c, i) => (i, c) }
        .toDF("i", "channel")
    }
    phi.join(broadcast(names), Seq("i"))
      .select(col("channel"), col("phi"))
      .orderBy("channel")
  }

  // q390: Theil-T inequality with the within/between decomposition —
  // what Gini (q178) cannot do: split customer-revenue inequality
  // into within-nation and between-nation parts exactly
  // (T = Σ s_g·T_g + Σ s_g·ln(μ_g/μ)). Per-customer entropy terms
  // quantize to 1e-6 BIGINTs before summing (order-free at any
  // customer count); nation rows carry their within-T and revenue
  // share, the '__all' row carries the total and the between term.
  def theilDecomposition(s: SparkSession, dir: String): DataFrame = {
    val cents = M.oracleRound(M.oracleRound(col("o_totalprice"), 2) *
      100, 0).cast("long")
    val cust = Tables.orders(s, dir)
      .select(col("o_custkey"), cents.as("vc"))
      .groupBy("o_custkey").agg(sum("vc").as("x"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("x"))
    val tot = cust.agg(count(lit(1)).as("n"), sum("x").as("sx"))
    val mu = col("sx").cast("double") / col("n")
    val wTot = cust.crossJoin(broadcast(tot))
      .select(M.oracleRound((col("x").cast("double") / mu) *
        log(col("x").cast("double") / mu) * 1e6, 0).cast("long").as("ti"))
      .agg((sum("ti").cast("double") / 1e6).as("tsum"))
    val grp = cust.groupBy("n_name")
      .agg(count(lit(1)).as("ng"), sum("x").as("sxg"))
    val mug = col("sxg").cast("double") / col("ng")
    val wGrp = cust.join(grp, Seq("n_name"))
      .select(col("n_name"),
        M.oracleRound((col("x").cast("double") / mug) *
          log(col("x").cast("double") / mug) * 1e6, 0).cast("long")
          .as("ti"))
      .groupBy("n_name").agg((sum("ti").cast("double") / 1e6).as("tg"))
    val nations = grp.join(wGrp, Seq("n_name"))
      .crossJoin(broadcast(tot))
      .select(col("n_name").as("group"), col("ng").as("n_members"),
        M.oracleRound(col("sxg").cast("double") / col("sx"), 6)
          .as("rev_share"),
        M.oracleRound(col("tg") / col("ng"), 4).as("theil_within"),
        M.oracleRound((col("sxg").cast("double") / col("sx")) *
          log((col("sxg").cast("double") / col("ng")) / mu), 4)
          .as("between_contrib"))
    val totalRow = tot.crossJoin(wTot)
      .select(lit("__all").as("group"), col("n").as("n_members"),
        lit(1.0).as("rev_share"),
        M.oracleRound(col("tsum") / col("n"), 4).as("theil_within"),
        lit(null).cast("double").as("between_contrib"))
    nations.unionByName(totalRow).orderBy("group")
  }

  // q385: consistent-hash ring balance audit — the OTHER placement
  // scheme beside rendezvous (q210), with the vnode knob that makes
  // or breaks it: assign every user key to the first ring point
  // clockwise of its hash for 8 nodes at 1 / 16 / 256 vnodes and
  // report the load spread (max/min share, CV). One keys×ring theta
  // join per panel at gate scale; the 100 TB path is a sort-merge
  // as-of lookup against the (tiny, broadcast) sorted ring.
  def consistentHashRing(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables.events(s, dir).select("user_id").distinct()
      .withColumn("pos",
        T.md5Int(concat(lit("key:"), col("user_id").cast("string")), 8))
    val panels = Seq(1, 16, 256).map { vn =>
      val ring = s.range(0, 8L * vn).toDF("i")
        .select((col("i") % 8).as("node"),
          T.md5Int(concat(lit(s"ring$vn:"),
            (col("i") % 8).cast("string"), lit(":"),
            (col("i") / 8).cast("long").cast("string")), 8).as("pt"))
      val fwd = keys.join(broadcast(ring), col("pt") >= col("pos"))
        .groupBy("user_id").agg(min_by(col("node"), col("pt")).as("n1"))
      val wrap = ring.agg(min_by(col("node"), col("pt")).as("n0"))
      val load = keys.join(fwd, Seq("user_id"), "left")
        .crossJoin(broadcast(wrap))
        .select(coalesce(col("n1"), col("n0")).as("node"))
        .groupBy("node").agg(count(lit(1)).as("nk"))
      val nd = col("nk").cast("double")
      load.agg(
          sum("nk").as("n_keys"),
          max("nk").as("kmax"), min("nk").as("kmin"),
          avg(nd).as("mean"),
          sqrt(avg(nd * nd) - avg(nd) * avg(nd)).as("sd"))
        .select(lit(vn).cast("long").as("n_vnodes"), col("n_keys"),
          M.oracleRound(col("kmax").cast("double") / col("n_keys"), 4)
            .as("max_share"),
          M.oracleRound(col("kmin").cast("double") / col("n_keys"), 4)
            .as("min_share"),
          M.oracleRound(col("sd") / col("mean"), 4).as("cv_load"))
    }
    panels.reduce(_ unionAll _).orderBy("n_vnodes")
  }

  // q386: deletion-cascade impact panel — the right-to-be-forgotten
  // dry run: for the md5 1 % of customers, how many rows each table
  // in the FK chain must drop (customer → orders → lineitem), each
  // share, and a zero-orphan proof that the cascade is complete
  // (lineitems of deleted orders are exactly the deleted lineitems).
  // Three keyed joins that shuffle on their FK — the actual delete's
  // plan shape, run as an audit.
  def deletionCascade(s: SparkSession, dir: String): DataFrame = {
    val delCust = Tables.customer(s, dir).select("c_custkey")
      .filter(T.md5Int(concat(lit("del:"),
        col("c_custkey").cast("string")), 8) % 100 === 0)
    val delOrders = Tables.orders(s, dir)
      .join(delCust, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey")
    val delLine = Tables.lineitem(s, dir)
      .join(delOrders, col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber")
    def row(name: String, deleted: DataFrame, total: DataFrame) = {
      val d = deleted.agg(count(lit(1)).as("n_deleted"))
      val t = total.agg(count(lit(1)).as("n_total"))
      d.crossJoin(t).select(lit(name).as("table"), col("n_deleted"),
        col("n_total"),
        M.oracleRound(col("n_deleted").cast("double") / col("n_total"),
          4).as("share"))
    }
    Seq(
      row("customer", delCust, Tables.customer(s, dir)),
      row("lineitem", delLine, Tables.lineitem(s, dir)),
      row("orders", delOrders, Tables.orders(s, dir)))
      .reduce(_ unionAll _).orderBy("table")
  }

  // q387: epsilon-greedy bandit REPLAY over the five event types —
  // sequential decisions expressed as pure window algebra, no
  // iteration: the greedy pick at day d reads only the cumulative
  // (sum, count) BEFORE d (an exclusive window per type), forced
  // exploration days and their arm come from md5, and the regret
  // compares the realized day reward of the chosen arm against the
  // global best-in-hindsight arm. Day means pinned 6 dp before the
  // argmax so the pick itself is engine-stable.
  def banditReplay(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"), col("event_type"),
        M.oracleRound(col("value") * 100, 0).cast("long").as("vi"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), sum("vi").as("sv"))
      .coalesce(1)
    val wPast = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val scored = daily
      .withColumn("past_n", sum("n").over(wPast))
      .withColumn("past_sv", sum("sv").over(wPast))
      .withColumn("past_mean", M.oracleRound(
        col("past_sv").cast("double") / col("past_n") / 100.0, 6))
      .withColumn("day_mean", M.oracleRound(
        col("sv").cast("double") / col("n") / 100.0, 6))
    val wDay = Window.partitionBy("day")
      .orderBy(col("past_mean").desc_nulls_last, col("event_type"))
    val arms = scored
      .withColumn("greedy_rn", row_number().over(wDay))
      .withColumn("arm_idx", dense_rank().over(
        Window.partitionBy("day").orderBy("event_type")) - 1)
    val forcedArm = T.md5Int(concat(lit("arm:"),
      col("day").cast("string")), 8) % 5
    val isForced = T.md5Int(concat(lit("eps:"),
      col("day").cast("string")), 8) % 10 === 0
    val chosen = arms.filter(
        (isForced && col("arm_idx") === forcedArm) ||
          (!isForced && col("greedy_rn") === 1))
      .select(col("day"), col("event_type").as("chosen"),
        when(isForced, 1).otherwise(0).as("forced"),
        col("day_mean").as("reward"))
    val best = daily.groupBy("event_type")
      .agg(M.oracleRound(
        sum("sv").cast("double") / sum("n") / 100.0, 6).as("gm"))
      .agg(max_by(col("event_type"), struct(col("gm"),
        col("event_type"))).as("best_arm"))
    val bestDay = daily.join(best,
        col("event_type") === col("best_arm"))
      .select(col("day"), M.oracleRound(
        col("sv").cast("double") / col("n") / 100.0, 6).as("best_reward"))
    chosen.join(bestDay, Seq("day"))
      .withColumn("regret", M.oracleRound(
        sum(col("best_reward") - col("reward")).over(
          Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, 0)), 4))
      .select(col("day"), col("chosen"), col("forced"),
        M.oracleRound(col("reward"), 4).as("reward"),
        M.oracleRound(col("best_reward"), 4).as("best_reward"),
        col("regret").as("cum_regret"))
      .orderBy("day")
  }

  // q381: bitemporal as-of query — BOTH time axes at once, which
  // SCD2 (q325/q326, valid time only) cannot answer: "what did we
  // BELIEVE at transaction time T about facts valid at T". Facts are
  // order versions; corrections (every 37th key) are recorded 10 days
  // after the order date with +100.00 on the price. The as-of pick is
  // one per-key row_number over tx_from ≤ T — the same partitioned
  // shape as SCD2 point-in-time, one extra predicate.
  def bitemporalAsof(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderdate"), col("o_totalprice"))
    val base = o.select(col("o_orderkey"), col("o_orderstatus"),
      to_date(col("o_orderdate")).as("valid_from"),
      to_date(col("o_orderdate")).as("tx_from"),
      col("o_totalprice").as("price"))
    val corr = o.filter(col("o_orderkey") % 37 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        to_date(col("o_orderdate")).as("valid_from"),
        date_add(to_date(col("o_orderdate")), 10).as("tx_from"),
        M.oracleRound(col("o_totalprice") + 100.0, 2).as("price"))
    val t = o.agg(date_add(to_date(min(col("o_orderdate"))), 60).as("t0"))
    val vers = base.unionByName(corr).crossJoin(broadcast(t))
      .filter(col("tx_from") <= col("t0") &&
        col("valid_from") <= col("t0"))
    val believed = vers.withColumn("rn", row_number().over(
        Window.partitionBy("o_orderkey")
          .orderBy(col("tx_from").desc)))
      .filter(col("rn") === 1)
    believed.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("tx_from") =!= col("valid_from"), 1L)
          .otherwise(0L)).as("n_corrected"),
        M.oracleRound(sum(col("price")), 2).as("believed_total"))
      .orderBy("o_orderstatus")
  }

  // q382: interval-union coverage — merge each user's overlapping
  // [ts, ts+15 min) activity intervals and report total covered
  // seconds + merged-interval count; top 20 by coverage. The classic
  // overlapping-interval MERGE operator: one per-user ordered sweep
  // (running max of previous ends marks group starts), all windows
  // partitioned by user — no global sort, integer seconds throughout.
  def intervalUnion(s: SparkSession, dir: String): DataFrame = {
    val span = 15L * 60
    val ev = Tables.events(s, dir)
      .select(col("user_id"), unix_seconds(col("ts")).as("a"))
      .withColumn("b", col("a") + span)
    val w = Window.partitionBy("user_id").orderBy("a", "b")
    val grp = ev
      .withColumn("prev_max_b", max(col("b")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_new",
        when(col("prev_max_b").isNull || col("a") > col("prev_max_b"),
          1L).otherwise(0L))
      .withColumn("grp", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    val merged = grp.groupBy("user_id", "grp")
      .agg(min("a").as("lo"), max("b").as("hi"))
    merged.groupBy("user_id")
      .agg(count(lit(1)).as("n_merged"),
        sum(col("hi") - col("lo")).as("covered_s"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("covered_s").desc, col("user_id"))))
      .filter(col("rnk") <= 20)
      .select(col("user_id"), col("n_merged"), col("covered_s"),
        col("rnk"))
      .orderBy("rnk")
  }

  // q383: contribution analysis — nation revenue with its share of
  // the region and of the whole, the drill-down BI staple, in exact
  // integer cents: one join chain to the broadcast dims, one keyed
  // aggregate, then two window shares over the 25-row nation frame.
  def contributionShares(s: SparkSession, dir: String): DataFrame = {
    val cents = M.oracleRound(M.oracleRound(col("o_totalprice"), 2) *
      100, 0).cast("long")
    val rev = Tables.orders(s, dir)
      .select(col("o_custkey"), cents.as("vc"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)
        .select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(col("vc")).as("revenue_cents"))
    rev
      .withColumn("region_total", sum("revenue_cents").over(
        Window.partitionBy("r_name")))
      .withColumn("grand_total", sum("revenue_cents").over(
        Window.partitionBy()))
      .select(col("r_name"), col("n_name"), col("revenue_cents"),
        M.oracleRound(col("revenue_cents").cast("double") /
          col("region_total").cast("double"), 4).as("share_of_region"),
        M.oracleRound(col("revenue_cents").cast("double") /
          col("grand_total").cast("double"), 4).as("share_of_total"))
      .orderBy("r_name", "n_name")
  }

  // q379: equi-depth histogram selectivity audit — the optimizer-
  // statistics loop made first-class: build the 10-bucket equi-depth
  // histogram of net price (integer cents, exact distributed
  // percentile boundaries), estimate a range predicate's row count
  // under the uniform-within-bucket assumption, and report it against
  // the exact count. The histogram build is one percentile aggregate;
  // the audit is closed-form arithmetic on 10 boundary values.
  def selectivityAudit(s: SparkSession, dir: String): DataFrame = {
    val cents = M.oracleRound(M.oracleRound(
      col("l_extendedprice") * (lit(1) - col("l_discount")), 2) * 100, 0)
      .cast("long")
    val base = Tables.lineitem(s, dir).select(cents.as("vi"))
    // predicate: net price in [10,000 USD, 30,000 USD)
    val lo = 1000000L; val hi = 3000000L
    val bounds = base.agg(
      count(lit(1)).as("n"),
      expr("percentile(vi, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D," +
        "0.8D,0.9D))").as("qs"),
      min("vi").as("vmin"), max("vi").as("vmax"),
      sum(when(col("vi") >= lo && col("vi") < hi, 1L).otherwise(0L))
        .as("actual_rows"))
    // bucket k spans [b_k, b_{k+1}); overlap fraction of [lo, hi)
    // under uniformity, each bucket holding n/10 rows
    val est = (0 until 10).map { k =>
      val bLo = if (k == 0) col("vmin").cast("double")
        else element_at(col("qs"), k)
      val bHi = if (k == 9) col("vmax").cast("double") + 1.0
        else element_at(col("qs"), k + 1)
      val ov = greatest(lit(0.0),
        least(bHi, lit(hi.toDouble)) - greatest(bLo, lit(lo.toDouble)))
      // epsilon-floored denominator instead of a CASE guard: ANSI mode
      // + subexpression elimination can evaluate a guarded division
      // eagerly; with width <= 0 the overlap is 0, so 0/eps = 0 keeps
      // the CASE semantics the oracle states
      ov / greatest(bHi - bLo, lit(1e-12))
    }.reduce(_ + _) * col("n").cast("double") / 10.0
    bounds.select(col("n").as("n_rows"),
        lit(lo).as("pred_lo_cents"), lit(hi).as("pred_hi_cents"),
        M.oracleRound(est, 4).as("est_rows"),
        col("actual_rows"),
        M.oracleRound((est - col("actual_rows").cast("double")) /
          col("actual_rows").cast("double"), 4).as("rel_err"))
  }

  // q375: whole-schema FK integrity panel — q95 checks ONE planted
  // edge; this audits every declared edge of the star schema in one
  // result: per edge, child rows, orphan child rows (no parent),
  // parent keys, and unreferenced parents (no children — the coverage
  // side a single-orphan check never shows). Each edge is one
  // distinct-key full-outer join that shuffles on the key; the panel
  // is a 7-row union of closed aggregates.
  def fkPanel(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String): DataFrame = {
      val c = child.groupBy(col(ck).as("k")).agg(count(lit(1)).as("nc"))
      val p = parent.select(col(pk).as("k")).distinct()
        .withColumn("isp", lit(1L))
      c.join(p, Seq("k"), "full_outer")
        .agg(
          sum(coalesce(col("nc"), lit(0L))).as("n_child"),
          sum(when(col("isp").isNull, col("nc")).otherwise(0L))
            .as("n_orphan_rows"),
          sum(when(col("isp").isNotNull, 1L).otherwise(0L))
            .as("n_parents"),
          sum(when(col("isp").isNotNull && col("nc").isNull, 1L)
            .otherwise(0L)).as("n_unreferenced"))
        .select(lit(name).as("edge"), col("n_child"),
          col("n_orphan_rows"), col("n_parents"), col("n_unreferenced"))
    }
    val li = Tables.lineitem(s, dir)
    val ord = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir)
    val supp = Tables.supplier(s, dir)
    val part = Tables.part(s, dir)
    val nat = Tables.nation(s, dir)
    val reg = Tables.region(s, dir)
    Seq(
      edge("customer->nation", cust, "c_nationkey", nat, "n_nationkey"),
      edge("lineitem->orders", li, "l_orderkey", ord, "o_orderkey"),
      edge("lineitem->part", li, "l_partkey", part, "p_partkey"),
      edge("lineitem->supplier", li, "l_suppkey", supp, "s_suppkey"),
      edge("nation->region", nat, "n_regionkey", reg, "r_regionkey"),
      edge("orders->customer", ord, "o_custkey", cust, "c_custkey"),
      edge("supplier->nation", supp, "s_nationkey", nat, "n_nationkey"))
      .reduce(_ unionAll _)
      .select(col("edge"), col("n_child"), col("n_orphan_rows"),
        col("n_parents"), col("n_unreferenced"),
        M.oracleRound(col("n_orphan_rows").cast("double") /
          col("n_child"), 4).as("orphan_rate"),
        M.oracleRound(lit(1.0) - col("n_unreferenced").cast("double") /
          col("n_parents"), 4).as("coverage"))
      .orderBy("edge")
  }

  // q376: incremental view maintenance for a JOIN view — the delta
  // companion to q308's aggregate IVM: with insert-only deltas ΔO
  // (late orders, %97) and ΔC (new customers, %89), the maintained
  // view is V_old ∪ ΔO⋈C_old ∪ O_old⋈ΔC ∪ ΔO⋈ΔC — four joins that
  // each touch only one delta side (the plan a 100 TB refresh
  // actually runs), re-aggregated and checked row-for-row against
  // the full recompute per market segment.
  def ivmJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val oOld = o.filter(col("o_orderkey") % 97 =!= 0)
    val oDel = o.filter(col("o_orderkey") % 97 === 0)
    val cOld = c.filter(col("c_custkey") % 89 =!= 0)
    val cDel = c.filter(col("c_custkey") % 89 === 0)
    def seg(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    val full = seg(o, c)
      .select(col("c_mktsegment"), col("n").as("n_full"))
    val ivm = Seq(seg(oOld, cOld), seg(oDel, cOld), seg(oOld, cDel),
        seg(oDel, cDel))
      .reduce(_ unionAll _)
      .groupBy("c_mktsegment").agg(sum("n").as("n_ivm"))
    full.join(ivm, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        coalesce(col("n_full"), lit(0L)).as("n_full"),
        coalesce(col("n_ivm"), lit(0L)).as("n_ivm"),
        when(coalesce(col("n_full"), lit(0L)) ===
          coalesce(col("n_ivm"), lit(0L)), 1).otherwise(0)
          .as("consistent"))
      .orderBy("c_mktsegment")
  }

  // q372: partial autocorrelation (PACF) at lags 1..5 by the
  // Durbin–Levinson recursion, unrolled — the ARIMA order-selection
  // companion to q239's ACF and q352's whiteness test: PACF cuts off
  // at the true AR order where raw ACF only decays. Inputs are the
  // SAME 6-dp-pinned autocorrelations as q352 (exact-deviation-sum
  // machinery), and the recursion below is pure fixed-order double
  // arithmetic written with IDENTICAL operation order in the oracle,
  // so outputs match to the 4-dp pin without any further histogram
  // work. Frames are days-sized throughout.
  def pacfDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCounts(s, dir)
      .select(col("day"), col("x").cast("double").as("x"))
    val m = daily.agg(M.oracleRound(avg(col("x")), 6).as("m"))
    val w = Window.orderBy("day")
    var dev = daily.crossJoin(broadcast(m))
      .withColumn("d", col("x") - col("m"))
    for (k <- 1 to 5)
      dev = dev.withColumn(s"d$k", lag(col("d"), k).over(w))
    val aggCols = Seq(sum(col("d") * col("d")).as("den")) ++
      (1 to 5).map(k => sum(col("d") * col(s"d$k")).as(s"num$k"))
    val acf = dev.agg(count(lit(1)).as("n"), aggCols: _*)
      .select(col("n") +:
        (1 to 5).map(k =>
          M.oracleRound(col(s"num$k") / col("den"), 6).as(s"r$k")): _*)
    // Durbin–Levinson, unrolled: p_k = phi_kk, a*_i the AR coeffs,
    // v_k the prediction-variance remainder — every line below is
    // restated verbatim in the oracle's chained CTEs
    val l1 = acf
      .withColumn("p1", col("r1"))
      .withColumn("v1", lit(1.0) - col("r1") * col("r1"))
    val l2 = l1
      .withColumn("p2", (col("r2") - col("p1") * col("r1")) / col("v1"))
      .withColumn("a21", col("p1") - col("p2") * col("p1"))
      .withColumn("v2", col("v1") * (lit(1.0) - col("p2") * col("p2")))
    val l3 = l2
      .withColumn("p3", (col("r3") -
        (col("a21") * col("r2") + col("p2") * col("r1"))) / col("v2"))
      .withColumn("a31", col("a21") - col("p3") * col("p2"))
      .withColumn("a32", col("p2") - col("p3") * col("a21"))
      .withColumn("v3", col("v2") * (lit(1.0) - col("p3") * col("p3")))
    val l4 = l3
      .withColumn("p4", (col("r4") - (col("a31") * col("r3") +
        col("a32") * col("r2") + col("p3") * col("r1"))) / col("v3"))
      .withColumn("a41", col("a31") - col("p4") * col("p3"))
      .withColumn("a42", col("a32") - col("p4") * col("a32"))
      .withColumn("a43", col("p3") - col("p4") * col("a31"))
      .withColumn("v4", col("v3") * (lit(1.0) - col("p4") * col("p4")))
    val l5 = l4
      .withColumn("p5", (col("r5") - (col("a41") * col("r4") +
        col("a42") * col("r3") + col("a43") * col("r2") +
        col("p4") * col("r1"))) / col("v4"))
    val outCols = col("n").as("n_days") +:
      ((1 to 5).map(k => col(s"r$k")) ++
        (1 to 5).map(k => M.oracleRound(col(s"p$k"), 4).as(s"pacf$k")))
    l5.select(outCols: _*)
  }

  // q373: sample-size design panel — the "how many rows do I need"
  // table every telemetry budget review asks for: per event type,
  // the n for a ±1 % relative-precision 95 % CI on the mean value
  // (n0 = (1.96·sd / (0.01·mean))²) with the finite-population
  // correction n0/(1 + n0/N). Moments from the q357 exact integer
  // recode; one corpus-sized groupBy.
  def sampleSizeDesign(s: SparkSession, dir: String): DataFrame = {
    val mom = Tables.events(s, dir)
      .select(col("event_type"),
        M.oracleRound(col("value") * 100, 0).cast("long").as("vi"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("vi").as("sv"),
        sum(col("vi") * col("vi")).as("ssv"))
    // all in vi units (exact integer sums) — relative precision is
    // scale-free, so the /100 recode cancels out of n0 entirely
    val nd = col("n").cast("double")
    val meanVi = col("sv").cast("double") / nd
    val varVi = (col("ssv").cast("double") - meanVi * meanVi * nd) /
      (nd - 1.0)
    val n0 = (lit(1.96) * sqrt(varVi) / (lit(0.01) * meanVi)) *
      (lit(1.96) * sqrt(varVi) / (lit(0.01) * meanVi))
    val nReq = ceil(n0 / (lit(1.0) + n0 / nd))
    mom.select(col("event_type"), col("n").as("n_pop"),
        M.oracleRound(meanVi / 100.0, 4).as("mean_value"),
        M.oracleRound(sqrt(varVi) / 100.0, 4).as("sd_value"),
        M.oracleRound(n0, 4).as("n_infinite"),
        nReq.cast("long").as("n_required"),
        M.oracleRound(nReq / nd, 4).as("sample_frac"))
      .orderBy("event_type")
  }

  // q374: empirical-Bernstein sequential stopping audit — "how soon
  // could this experiment have stopped": after each day, the EB
  // confidence radius sqrt(2·V·ln(3/δ)/n) + 3·c·ln(3/δ)/n on the
  // running mean of purchase values (δ = 0.05, c = the a-priori value
  // range), flagged when it drops under 5 % of the running mean. The
  // anytime companion to q280's fixed-look group-sequential design.
  // All running moments come from integer daily sums via one ordered
  // days-sized window (the dailyCounts coalesce(1) contract); the
  // corpus-sized work is one groupBy(day).
  def ebStopping(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("day"),
        M.oracleRound(col("value") * 100, 0).cast("long").as("vi"))
    val daily = base.groupBy("day")
      .agg(count(lit(1)).as("dn"), sum("vi").as("dsv"),
        sum(col("vi") * col("vi")).as("dssv"))
      .coalesce(1)
    val rng = base.agg(((max("vi") - min("vi")).cast("double") / 100.0)
      .as("c"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val lnTerm = math.log(60.0) // ln(3/δ), δ = 0.05
    val cum = daily.crossJoin(broadcast(rng))
      .withColumn("n", sum("dn").over(w))
      .withColumn("sv", sum("dsv").over(w))
      .withColumn("ssv", sum("dssv").over(w))
    val nd = col("n").cast("double")
    val mean = col("sv").cast("double") / nd / 100.0
    val varPop = (col("ssv").cast("double") -
      (col("sv").cast("double") * col("sv").cast("double")) / nd) /
      nd / 1e4
    val eb = sqrt(lit(2.0) * varPop * lnTerm / nd) +
      lit(3.0) * col("c") * lnTerm / nd
    cum.select(col("day"), col("n").as("n_cum"),
        M.oracleRound(mean, 4).as("running_mean"),
        M.oracleRound(eb, 4).as("eb_radius"),
        when(M.oracleRound(eb, 4) < M.oracleRound(mean, 4) * 0.05, 1)
          .otherwise(0).as("can_stop"))
      .orderBy("day")
  }

  // q371: capture–recapture population estimate — the two-sample
  // ecology trick as a DISTINCT-COUNT cross-check for federated
  // settings where only independent hash samples of the ID space are
  // visible: two md5 marks (1/3 each), Lincoln–Petersen N̂ = n1·n2/m
  // and the bias-corrected Chapman form, compared against the exact
  // distinct count. One users-sized aggregate; everything integer
  // until the final ratios.
  def captureRecapture(s: SparkSession, dir: String): DataFrame = {
    val marked = Tables.events(s, dir)
      .select("user_id").distinct()
      .withColumn("s1",
        T.md5Int(concat(lit("cr1:"), col("user_id").cast("string")), 8)
          % 3 === 0)
      .withColumn("s2",
        T.md5Int(concat(lit("cr2:"), col("user_id").cast("string")), 8)
          % 3 === 0)
    marked.agg(
        count(lit(1)).as("n_true"),
        sum(when(col("s1"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("s2"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("s1") && col("s2"), 1L).otherwise(0L)).as("m"))
      .select(col("n_true"), col("n1"), col("n2"), col("m"),
        // the classical LP estimate is undefined on an empty
        // recapture (m = 0) — emit NULL; Chapman stays defined
        when(col("m") === 0, lit(null).cast("double")).otherwise(
          M.oracleRound(col("n1").cast("double") * col("n2") / col("m"),
            4)).as("lp_est"),
        M.oracleRound((col("n1") + 1).cast("double") * (col("n2") + 1) /
          (col("m") + 1) - 1.0, 4).as("chapman_est"),
        M.oracleRound(((col("n1") + 1).cast("double") * (col("n2") + 1) /
          (col("m") + 1) - 1.0 - col("n_true").cast("double")) /
          col("n_true").cast("double"), 4).as("chapman_rel_err"))
  }

  // q358: AMS second-moment sketch vs the exact F2 of the user
  // activity distribution — the self-join-size/skew estimator that
  // needs 64 counters instead of a users-sized state: counter_j =
  // Σ_u cnt_u·sign(md5(u,j)), E[counter²] = F2. Median-of-4-means of
  // 16 estimates. EVERYTHING is integer arithmetic (counters are
  // BIGINTs; means divide by 16 = 2⁴ and the 4-point median averages
  // two values — both exact in binary), so no rounding is needed
  // before the final relative error. The sketch pass is one
  // users-sized frame × 64 lanes → 64 groups (map-side combined).
  def amsF2(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val exact = users.agg(count(lit(1)).as("n_users"),
      sum(col("cnt") * col("cnt")).as("f2_exact"))
    val counters = users
      .withColumn("j", explode(sequence(lit(0L), lit(63L))))
      .withColumn("sgn", when(
        T.md5Int(concat(lit("ams:"), col("j").cast("string"), lit(":"),
          col("user_id").cast("string")), 8) % 2 === 0, 1L).otherwise(-1L))
      .groupBy("j").agg(sum(col("cnt") * col("sgn")).as("c"))
    val est = counters
      .groupBy((col("j") / 16).cast("long").as("grp"))
      .agg((sum(col("c") * col("c")).cast("double") / 16).as("mean_est"))
      .agg(expr("percentile(mean_est, 0.5D)").as("f2_est"))
    exact.crossJoin(est)
      .select(col("n_users"), col("f2_exact"),
        col("f2_est"),
        M.oracleRound((col("f2_est") - col("f2_exact").cast("double")) /
          col("f2_exact").cast("double"), 4).as("rel_err"))
  }

  // q398: isotonic (monotone) calibration via PAV's MINIMAX closed
  // form — the score-calibration step between a ranking model and a
  // probability consumer (Zadrozny & Elkan KDD'02; Robertson et al.
  // 1988 give iso_k = max_{i<=k} min_{j>=k} avg(y over bins i..j),
  // which equals weighted pool-adjacent-violators without the
  // sequential pooling loop — the recursion-to-closed-form rewrite
  // that makes the fit SQL-expressible). 16 score bins (user_id mod
  // 16), y = is-purchase; ONE keyed aggregate touches the events
  // table, then all minimax algebra runs on the 16-row bin frame
  // (16³ = 4096 combinations — corpus-size-independent). Segment
  // averages are exact-integer ratios divided once, so both engines
  // compare identical doubles; 4-dp pin on output only.
  def isotonicCalibration(s: SparkSession, dir: String): DataFrame = {
    val W = Window.orderBy("b") // 16-row frame: single-partition OK
    val bins = Tables.events(s, dir)
      .groupBy(pmod(col("user_id"), lit(16)).cast("int").as("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("k"))
    val c = bins
      .withColumn("cn", sum(col("n")).over(W))
      .withColumn("ck", sum(col("k")).over(W))
      .coalesce(1).localCheckpoint() // 16 rows; read three times below
    val lo = c.select(col("b").as("i"),
      (col("cn") - col("n")).as("cn0"), (col("ck") - col("k")).as("ck0"))
    val hi = c.select(col("b").as("j"),
      col("cn").as("cnj"), col("ck").as("ckj"))
    val seg = lo.join(hi, col("i") <= col("j"))
      .select(col("i"), col("j"),
        ((col("ckj") - col("ck0")).cast("double") /
          (col("cnj") - col("cn0")).cast("double")).as("avgij"))
    val iso = c.select(col("b").as("kb"))
      .join(seg, col("i") <= col("kb") && col("kb") <= col("j"))
      .groupBy("kb", "i").agg(min(col("avgij")).as("mi"))
      .groupBy("kb").agg(max(col("mi")).as("iso"))
    c.join(iso, col("b") === col("kb"))
      .select(col("b"), col("n"), col("k"),
        M.oracleRound(col("k").cast("double") / col("n").cast("double"), 4)
          .as("raw_rate"),
        M.oracleRound(col("iso"), 4).as("iso_rate"))
      .orderBy("b")
  }

  // q399: EXACT one-sided CUSUM drift detection on daily click counts
  // — the sequential recursion S_k = max(0, S_{k-1} + z_k) rewritten
  // through its prefix-min identity S_k = P_k − min(0, min_{i<=k} P_i)
  // (Page 1954; P = prefix sums of z), so the classic change detector
  // runs as two windows over the days-sized frame with NO recursion —
  // the closed-form complement to q247's two-window mean-shift
  // stand-in. Reference μ₀ = mean of the first 14 days (burn-in),
  // slack κ = μ₀/4, alarm at h = 5·μ₀; everything is scaled by 56
  // (= lcm of the 14- and 4-denominators) so z, P, and S stay exact
  // BIGINTs: z·56 = 56·x − 5·A where A = Σ burn-in counts.
  def cusumExact(s: SparkSession, dir: String): DataFrame = {
    val W = Window.orderBy("day")
    val daily = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .coalesce(1)
      .withColumn("rn", row_number().over(W))
      .localCheckpoint() // days-sized; read twice (burn-in agg + post)
    val aRow = daily.filter(col("rn") <= 14).agg(sum(col("x")).as("A"))
    val post = daily.filter(col("rn") > 14)
      .crossJoin(broadcast(aRow))
      .withColumn("z56", col("x") * 56 - col("A") * 5)
    post
      .withColumn("p56", sum(col("z56")).over(W))
      .withColumn("s56", col("p56") -
        least(lit(0L), min(col("p56")).over(W)))
      .select(col("day"), col("x"), col("s56"),
        M.oracleRound(col("s56").cast("double") / 56.0, 4).as("cusum"),
        (col("s56") > col("A") * 20).as("alarm")) // 5·μ₀ = 20A/56
      .orderBy("day")
  }

  // q401: deterministic BOOTSTRAP confidence interval for the daily
  // purchase mean — the resampling-based uncertainty tool beside the
  // closed-form tests (q253 Welch, q279 permutation, q391 conformal):
  // B = 200 resamples whose indices are md5-derived (pick_i =
  // md5('boot:'||b||':'||i) mod n), so the DuckDB oracle reproduces
  // every resample bit-for-bit — the same determinism contract as the
  // q279 permutation test. Resample means are exact integer sums
  // divided once; the percentile CI picks order statistics 5 and 195
  // (nearest-rank 2.5 % / 97.5 % of 200). Scale shape: the corpus pass
  // is ONE keyed daily aggregate; the B×days resample grid never
  // touches the events table.
  def bootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val W = Window.orderBy("day")
    val daily = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .coalesce(1)
      .withColumn("idx", row_number().over(W) - 1)
      .localCheckpoint() // days-sized
    val nRow = daily.agg(count(lit(1)).as("nd"), sum(col("x")).as("sx"))
    val grid = s.range(200).select(col("id").cast("int").as("bb"))
      .crossJoin(broadcast(nRow))
      .select(col("bb"), col("nd"), col("sx"),
        explode(expr("sequence(0, cast(nd as int) - 1)")).as("i"))
      .withColumn("pick", pmod(graft.functions.TextFunctions.md5Int(
        concat(lit("boot:"), col("bb").cast("string"), lit(":"),
          col("i").cast("string")), 8), col("nd")))
    val means = grid
      .join(daily.select(col("idx").as("pick"), col("x")), Seq("pick"))
      .groupBy("bb").agg(
        (sum(col("x")).cast("double") / max(col("nd")).cast("double"))
          .as("m"),
        max(col("nd")).as("nd"), max(col("sx")).as("sx"))
    val Wm = Window.orderBy(col("m"), col("bb"))
    means.withColumn("r", row_number().over(Wm))
      .agg(
        max(col("nd")).as("n_days"),
        M.oracleRound(max(col("sx")).cast("double") /
          max(col("nd")).cast("double"), 4).as("observed_mean"),
        count(lit(1)).cast("int").as("n_resamples"),
        M.oracleRound(max(when(col("r") === 5, col("m"))), 4).as("ci_lo"),
        M.oracleRound(max(when(col("r") === 195, col("m"))), 4).as("ci_hi"))
  }

  // q405: 2-state VITERBI forward decode (min-sum) over daily click
  // counts — latent-state sequence decoding beside the threshold
  // detectors (q399 CUSUM, q247 mean-shift): state 'base' expects the
  // burn-in mean μ₀, state 'elevated' expects 2·μ₀, emission cost
  // |x − μ_s|, switch penalty μ₀. All costs are ×14-scaled exact
  // BIGINTs (e_base = |14x − A|, e_elev = |14x − 2A|, penalty A where
  // A = Σ burn-in counts), so the DP and the oracle's 16 unrolled
  // min-CTEs agree bit-for-bit. The decode window is the FIRST 16
  // post-burn-in days (a fixed contract — an unrolled oracle needs a
  // static step count; testdata spans 30 days). Scale shape: the
  // corpus pass is ONE keyed daily aggregate; the DP itself is
  // O(states²·16) on the collected days-sized frame — the same
  // bounded-driver-head convention as every Lloyd/sketch fit.
  def viterbiDecode(s: SparkSession, dir: String): DataFrame = {
    val W = Window.orderBy("day")
    val daily = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .coalesce(1)
      .withColumn("rn", row_number().over(W))
    val rows = daily.filter(col("rn") <= 30)
      .orderBy("rn")
      .collect()
      .map(r => (r.getDate(0), r.getLong(1), r.getInt(2)))
    val a = rows.filter(_._3 <= 14).map(_._2).sum
    val post = rows.filter(r => r._3 > 14 && r._3 <= 30)
    var vb = 0L; var ve = 0L
    val out = post.zipWithIndex.map { case ((day, x, _), t) =>
      val eb = math.abs(14 * x - a)
      val ee = math.abs(14 * x - 2 * a)
      if (t == 0) { vb = eb; ve = ee }
      else {
        val nb = eb + math.min(vb, ve + a)
        val ne = ee + math.min(ve, vb + a)
        vb = nb; ve = ne
      }
      (day, x, vb, ve, if (vb <= ve) "base" else "elevated")
    }
    import s.implicits._
    out.toSeq.toDF("day", "x", "v_base", "v_elev", "state")
      .orderBy("day")
  }

  // q406: 1-D DBSCAN over the daily click-count distribution — density
  // clustering beside the partition methods (q53 Lloyd cells, q201
  // k-center): eps = (max−min) div 10 + 1 (data-scaled integer),
  // minPts = 3, neighborhoods on the count axis. In 1-D the
  // density-connect fixpoint COLLAPSES to a closed form — core points
  // sorted by value form a new cluster exactly where the gap to the
  // previous core exceeds eps — so the whole clustering (usually an
  // iterative region-grow) is two windows and a join over the
  // days-sized frame, exactly oracle-able. Border points attach to
  // the nearest core (tie → lower core value); everything else is
  // noise. All distances are integer; no rounding anywhere.
  def dbscanDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .coalesce(1).localCheckpoint() // days-sized; read 4 times below
    val eps = daily.agg(
      ((max(col("x")) - min(col("x"))) / lit(10)).cast("long").as("e"))
      .select((col("e") + 1L).as("eps"))
    val withEps = daily.crossJoin(broadcast(eps))
    val cnt = withEps.alias("p")
      .join(daily.alias("q"),
        abs(col("p.x") - col("q.x")) <= col("p.eps"))
      .groupBy(col("p.day").as("day"), col("p.x").as("x"),
        col("p.eps").as("eps"))
      .agg(count(lit(1)).as("nbrs"))
      .withColumn("is_core", col("nbrs") >= 3)
    val Wx = Window.orderBy(col("x"), col("day"))
    val cores = cnt.filter(col("is_core"))
      .withColumn("gap", col("x") - lag(col("x"), 1).over(Wx))
      .withColumn("cluster_id", sum(
        when(col("gap").isNull || col("gap") > col("eps"), 1)
          .otherwise(0)).over(Wx).cast("int"))
      .select(col("day").as("cday"), col("x").as("cx"),
        col("cluster_id"))
      .localCheckpoint() // cores-sized
    val Wb = Window.partitionBy("day")
      .orderBy(abs(col("x") - col("cx")), col("cx"), col("cday"))
    val border = cnt.filter(!col("is_core"))
      .join(cores, abs(col("x") - col("cx")) <= col("eps"))
      .withColumn("rn", row_number().over(Wb))
      .filter(col("rn") === 1)
      .select(col("day"), col("cluster_id"))
    cnt.select(col("day"), col("x"), col("nbrs"), col("is_core"))
      .join(cores.select(col("cday").as("day"),
        col("cluster_id").as("__cc")), Seq("day"), "left")
      .join(border.select(col("day"), col("cluster_id").as("__cb")),
        Seq("day"), "left")
      .select(col("day"), col("x"), col("nbrs"), col("is_core"),
        coalesce(col("__cc"), col("__cb")).as("cluster_id"),
        (col("__cc").isNull && col("__cb").isNull).as("is_noise"))
      .orderBy("day")
  }

  // q407: SKYLINE (Pareto-front) operator over per-customer (spend,
  // order count) — the classic multi-criteria DB operator (Börzsönyi
  // et al. ICDE'01) the engine was missing: a customer is on the
  // skyline iff no other weakly dominates on both axes and strictly
  // on one. The O(n²) dominance test collapses to two windows: a
  // STRICT-prefix range frame on spend (max count among strictly
  // higher spenders) and an equal-spend partition max — dominance in
  // 2-D is exactly "a strictly-better-on-axis-1 point with ≥ axis-2,
  // or an equal-axis-1 point with > axis-2". Money in floor-cents
  // longs; no rounding anywhere, every comparison integer.
  def skylineCustomers(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long"))
        .as("spend_cents"),
        count(lit(1)).as("n_orders"))
    val We = Window.partitionBy("spend_cents")
    per
      .withColumn("__domStrict", max(col("n_orders")).over(
        Window.orderBy(-col("spend_cents"))
          .rangeBetween(Window.unboundedPreceding, -1)))
      .withColumn("__domEq", max(col("n_orders")).over(We))
      .filter((col("__domStrict").isNull ||
        col("__domStrict") < col("n_orders")) &&
        col("__domEq") === col("n_orders"))
      .select(col("c_custkey"), col("spend_cents"), col("n_orders"))
      .orderBy("c_custkey")
  }

  // q408: Holt LINEAR (double) exponential smoothing, α = β = 1/2 —
  // the trend-aware forecaster beside the EWMA chart (q301): the
  // coupled recursions l_t = (x_t + l' + b')/2, b_t = (l_t − l')/2 +
  // b'/2 carried as EXACT integer numerators over 4^t
  // (L_t = 2·4^(t−1)·x_t + 2L' + 2B', B_t = (L_t − 4L')/2 + 2B' —
  // L_t is even by construction, so every step stays a BIGINT; 16
  // steps × daily counts ≈ 1.3e12, far under 2^63). Init: level =
  // day 1, trend = day 2 − day 1; decodes the next 16 days. The
  // corpus pass is one keyed daily aggregate; the recursion is
  // bounded driver work (the q405 convention), and the oracle unrolls
  // the same 16 steps as CTEs.
  def holtLinear(s: SparkSession, dir: String): DataFrame = {
    val W = Window.orderBy("day")
    val daily = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .coalesce(1)
      .withColumn("rn", row_number().over(W))
    val rows = daily.filter(col("rn") <= 18).orderBy("rn").collect()
      .map(r => (r.getDate(0), r.getLong(1), r.getInt(2)))
    require(rows.length >= 3, "holtLinear needs at least 3 days")
    var lNum = rows(0)._2 // L_0 over 4^0
    var bNum = rows(1)._2 - rows(0)._2
    var pow = 1L // 4^t
    val out = rows.drop(2).take(16).map { case (day, x, _) =>
      val lPrev = lNum
      pow *= 4
      lNum = 2 * (pow / 4) * x + 2 * lPrev + 2 * bNum
      bNum = (lNum - 4 * lPrev) / 2 + 2 * bNum
      // driver twin of MysqlFunctions.oracleRound: half AWAY FROM
      // ZERO — trend goes negative, and floor(x+0.5) disagrees with
      // DuckDB round() exactly on negative half-way points
      def r4(num: Long) = {
        val v = num.toDouble / pow
        if (v < 0) -math.floor(-v * 1e4 + 0.5) / 1e4
        else math.floor(v * 1e4 + 0.5) / 1e4
      }
      (day, x, r4(lNum), r4(bNum), r4(lNum + bNum))
    }
    import s.implicits._
    out.toSeq.toDF("day", "x", "level", "trend", "forecast_next")
      .orderBy("day")
  }

  // q409: OPTIMAL 4-segment changepoint segmentation of the daily
  // click series — the exact counterpart of the heuristic detectors
  // (q247 mean-shift, q399 CUSUM, q405 Viterbi): minimize total
  // within-segment SSE over ALL split triples 0 < i < j < k < n.
  // Needs no DP recursion at this size: segment SSE has the prefix-sum
  // closed form Σx² − (Σx)²/len, so the search is a pure 3-way join
  // over split positions (≈ 30³/6 ≈ 4 000 combos on a days frame —
  // corpus-size-independent) with an exact-integer numerator compare:
  // total SSE · (common denominator) stays rational with denominator
  // len₁·len₂·len₃·len₄, and the double division of exact integers
  // is identical on both engines; ties break on the (i, j, k) tuple.
  // Emits one row per chosen segment with its mean.
  def optimalSegments(s: SparkSession, dir: String): DataFrame = {
    val W = Window.orderBy("day")
    val daily = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .coalesce(1)
      .withColumn("rn", row_number().over(W))
      .withColumn("cs", sum(col("x")).over(W))
      .withColumn("cs2", sum(col("x") * col("x")).over(W))
      .localCheckpoint() // days-sized; read many times below
    val n = daily.count().toInt
    val pref = daily.select(col("rn"), col("cs"), col("cs2"))
    // virtual row 0 with cs=cs2=0 unioned in so every segment is (a, b]
    val zero = s.range(1).select(lit(0).cast("int").as("rn"),
      lit(0L).as("cs"), lit(0L).as("cs2"))
    val p = zero.unionByName(pref).localCheckpoint()
    val i = p.select(col("rn").as("i"), col("cs").as("ics"),
      col("cs2").as("ics2")).filter(col("i") > 0 && col("i") < n)
    val j = p.select(col("rn").as("j"), col("cs").as("jcs"),
      col("cs2").as("jcs2")).filter(col("j") > 0 && col("j") < n)
    val k = p.select(col("rn").as("k"), col("cs").as("kcs"),
      col("cs2").as("kcs2")).filter(col("k") > 0 && col("k") < n)
    val z = p.filter(col("rn") === 0)
      .select(col("cs").as("zcs"), col("cs2").as("zcs2"))
    val e = p.filter(col("rn") === n)
      .select(col("cs").as("ecs"), col("cs2").as("ecs2"))
    def sse(csA: Column, cs2A: Column, csB: Column, cs2B: Column,
        lenc: Column): Column =
      (cs2B - cs2A).cast("double") -
        ((csB - csA) * (csB - csA)).cast("double") / lenc.cast("double")
    val combos = i.join(j, col("i") < col("j"))
      .join(k, col("j") < col("k"))
      .crossJoin(broadcast(z)).crossJoin(broadcast(e))
      .withColumn("total",
        sse(col("zcs"), col("zcs2"), col("ics"), col("ics2"), col("i")) +
        sse(col("ics"), col("ics2"), col("jcs"), col("jcs2"),
          col("j") - col("i")) +
        sse(col("jcs"), col("jcs2"), col("kcs"), col("kcs2"),
          col("k") - col("j")) +
        sse(col("kcs"), col("kcs2"), col("ecs"), col("ecs2"),
          lit(n) - col("k")))
    val Wb = Window.orderBy(col("total"), col("i"), col("j"), col("k"))
    val best = combos.withColumn("rnk", row_number().over(Wb))
      .filter(col("rnk") === 1)
      .select(col("i"), col("j"), col("k"),
        M.oracleRound(col("total"), 4).as("total_sse"))
      .localCheckpoint() // 1 row
    val bounds = best.select(
      explode(array(
        struct(lit(1).as("seg_id"), lit(1).as("lo"), col("i").as("hi")),
        struct(lit(2).as("seg_id"), (col("i") + 1).as("lo"),
          col("j").as("hi")),
        struct(lit(3).as("seg_id"), (col("j") + 1).as("lo"),
          col("k").as("hi")),
        struct(lit(4).as("seg_id"), (col("k") + 1).as("lo"),
          lit(n).as("hi")))).as("b"),
      col("total_sse"))
      .select(col("b.seg_id").as("seg_id"), col("b.lo").as("lo"),
        col("b.hi").as("hi"), col("total_sse"))
    bounds.join(daily, col("rn") >= col("lo") && col("rn") <= col("hi"))
      .groupBy("seg_id", "total_sse")
      .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
        count(lit(1)).as("n_days"),
        M.oracleRound(sum(col("x")).cast("double") /
          count(lit(1)).cast("double"), 4).as("seg_mean"))
      .select(col("seg_id"), col("start_day"), col("end_day"),
        col("n_days"), col("seg_mean"), col("total_sse"))
      .orderBy("seg_id")
  }

  // q402: sampling-quota APPORTIONMENT across sources — when a corpus
  // budget (here 20 sampling "seats") must be split proportionally to
  // per-source token mass, the fractional shares have to become
  // integers, and the two classic electoral methods disagree in
  // instructive ways: Hamilton/largest-remainder (floor the quota,
  // give leftovers to the largest remainders) vs d'Hondt/Jefferson
  // (award seats greedily by the highest T/k divisor table, which
  // favors large sources). Both are exact-integer procedures — floor
  // quotas via integer div/mod, the divisor table ranked on identical
  // doubles with (source, k) tie-breaks — so the whole allocation is
  // hash-oracled. One corpus pass (token count per source); the
  // apportionment runs on the sources-sized frame.
  def quotaApportion(s: SparkSession, dir: String): DataFrame = {
    val seats = 20
    val src = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(sum(graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("long")).as("toks"))
      .coalesce(1).localCheckpoint() // sources-sized; read 3 times
    val tot = src.agg(sum(col("toks")).as("T"))
    val base = src.crossJoin(broadcast(tot))
      .withColumn("floor_seats", expr(s"(toks * $seats) div T"))
      .withColumn("rem", (col("toks") * seats) % col("T"))
    val Wr = Window.orderBy(col("rem").desc, col("source"))
    val Wl = Window.partitionBy()
    val hamilton = base
      .withColumn("leftover", lit(seats) - sum(col("floor_seats")).over(Wl))
      .withColumn("rrank", row_number().over(Wr))
      .withColumn("hamilton",
        (col("floor_seats") +
          when(col("rrank") <= col("leftover"), 1L).otherwise(0L))
          .cast("int"))
    val Wd = Window.orderBy(
      (col("toks").cast("double") / col("k").cast("double")).desc,
      col("src2"), col("k"))
    val dhondt = src
      .select(col("source").as("src2"), col("toks").as("t2"),
        explode(expr(s"sequence(1, $seats)")).as("k"))
      .withColumn("toks", col("t2"))
      .withColumn("cellrank", row_number().over(Wd))
      .filter(col("cellrank") <= seats)
      .groupBy(col("src2")).agg(count(lit(1)).cast("int").as("dhondt"))
    hamilton
      .join(dhondt, col("source") === col("src2"), "left")
      .na.fill(0, Seq("dhondt"))
      .select(col("source"), col("toks"),
        M.oracleRound(col("toks").cast("double") * seats /
          col("T").cast("double"), 4).as("exact_quota"),
        col("floor_seats").cast("int").as("floor_seats"),
        col("hamilton"), col("dhondt"))
      .orderBy("source")
  }

  // q410: HITS hubs/authorities over the DIRECTED part→supplier graph
  // (distinct lineitem pairs, the q73 node encoding: part = 2k,
  // supplier = 2k+1) — the other classic link-analysis fixpoint beside
  // PageRank: a part is a good hub when it is supplied by good
  // authorities, a supplier a good authority when good hub parts use
  // it. Four max-normalized 6-dp-pinned rounds (GraphOps.hits carries
  // the rounding + scale contract); the oracle unrolls them as chained
  // CTEs exactly like the pagerank iteration chain.
  def hitsPartsSuppliers(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(s, dir)
      .select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    GraphOps.hits(pairs, iters = 4, assumeDistinct = true)
      .orderBy("kind", "node")
  }

  // q412: Wald's SPRT on the daily purchase rate — the SEQUENTIAL
  // hypothesis test beside the fixed-horizon panel (q251–q257) and the
  // anytime empirical-Bernstein stopping audit (q374): H0 p = 0.18 vs
  // H1 p = 0.22, α = β = 0.05. The log-likelihood-ratio increments are
  // ×1e6 INTEGER literals computed ONCE here and interpolated into the
  // oracle SQL verbatim (so no engine evaluates a log at query time —
  // stronger than the q362 fixed-point-log convention, which still
  // raced two ln implementations to the same 6 dp). Per day the exact
  // (k, n) counts scale the two literals; the cumulative LLR is an
  // exact BIGINT window sum; the verdict compares against
  // ln((1−β)/α) = ln 19 in the same micro units, and `stopped` marks
  // whether any prefix day already crossed (window max). One corpus
  // pass (the keyed daily aggregate); the walk is a days-sized window.
  def sprtAudit(s: SparkSession, dir: String): DataFrame = {
    val W = Window.orderBy("day")
    Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("k"))
      .coalesce(1) // days-sized frame; single-partition walk window
      .withColumn("llr_micro",
        sum(col("k") * SprtLaMicro + (col("n") - col("k")) * SprtLbMicro)
          .over(W))
      .withColumn("verdict",
        when(col("llr_micro") >= SprtAMicro, "accept_h1")
          .when(col("llr_micro") <= -SprtAMicro, "accept_h0")
          .otherwise("continue"))
      .withColumn("stopped",
        max(when(col("verdict") =!= "continue", 1).otherwise(0)).over(W)
          === 1)
      .select(col("day"), col("n"), col("k"), col("llr_micro"),
        col("verdict"), col("stopped"))
      .orderBy("day")
  }
  // SPRT literals, shared with the oracle string: per-success term
  // ln(p1/p0), per-failure term ln((1−p1)/(1−p0)), decision bound
  // ln((1−β)/α), each rounded to 1e-6 micro units.
  val SprtLaMicro: Long = math.round(math.log(0.22 / 0.18) * 1e6)
  val SprtLbMicro: Long = math.round(math.log(0.78 / 0.82) * 1e6)
  val SprtAMicro: Long = math.round(math.log(0.95 / 0.05) * 1e6)

  // q415: NEXT-EVENT MODEL EVAL under a temporal split — the q122
  // transition matrix promoted to a trained/evaluated sequence model:
  // fit argmax P(next | prev) on transitions landing before Jan 21
  // (tie-break alphabetical on next), predict the held-out tail, score
  // top-1 accuracy per source state. A transition belongs to the split
  // of its LATER event's day, so train never sees a test target. One
  // lag window over (user, ts, event_id) — the q122 shape — then two
  // keyed aggregates; the model itself is a states-sized frame.
  def markovEval(s: SparkSession, dir: String): DataFrame = {
    val W = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(W))
      .withColumn("day", to_date(col("ts")))
      .filter(col("prev").isNotNull)
    val train = ev.filter(col("day") < lit("2024-01-21").cast("date"))
    val test = ev.filter(col("day") >= lit("2024-01-21").cast("date"))
    val Wp = Window.partitionBy("prev")
      .orderBy(col("n").desc, col("next"))
    val pred = train.groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
      .withColumn("r", row_number().over(Wp))
      .filter(col("r") === 1)
      .select(col("prev"), col("next").as("predicted_next"))
    test.join(broadcast(pred), Seq("prev"), "left")
      .groupBy(col("prev").as("prev_type"))
      .agg(max(col("predicted_next")).as("predicted_next"),
        count(lit(1)).as("n_test"),
        sum(when(col("event_type") === col("predicted_next"), 1L)
          .otherwise(0L)).as("n_correct"))
      .withColumn("acc", M.oracleRound(
        col("n_correct").cast("double") / col("n_test").cast("double"), 4))
      .orderBy("prev_type")
  }

  // q427: DISPERSION INDEX (variance-to-mean) of the DAILY counts per
  // event type — the Poisson overdispersion check run before trusting
  // any count model (a Poisson process has D = 1; real traffic is
  // burstier). q285 applies the same Church–Gale ratio to term counts
  // across documents; this leg gates the count-MODEL assumption on
  // the time axis and adds the exact flag: sample variance over mean
  // from exact BIGINT moment sums, with overdispersion decided by
  // integer cross-multiplication (2·(nΣx² − (Σx)²) > 3·(n−1)·Σx ⟺
  // D > 1.5), so the boolean never rides a float boundary. One keyed
  // daily aggregate + one types-sized pass.
  def dispersionIndex(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"))
      .withColumn("__num", col("n_days") * col("s2") - col("s1") * col("s1"))
      .select(col("event_type"), col("n_days"), col("s1").as("total"),
        M.oracleRound(col("s1").cast("double") / col("n_days"), 4)
          .as("mean_daily"),
        M.oracleRound(col("__num").cast("double") /
          ((col("n_days") - 1).cast("double") * col("s1").cast("double")), 4)
          .as("dispersion"),
        (col("__num") * 2 > (col("n_days") - 1) * col("s1") * 3)
          .as("overdispersed"))
      .orderBy("event_type")
  }

  // q423: DIFFERENCE-IN-DIFFERENCES — the panel-data causal estimator
  // beside the cross-sectional family (q338 stratified ATE, q306
  // CUPED, q370-class eval): md5-assigned treatment per user, pre =
  // days 1–15 / post = days 16–30, outcome = purchases per user per
  // period (users with none count 0 — the users frame is the
  // denominator, not the purchase stream). DiD = (ȳ_t,post − ȳ_t,pre)
  // − (ȳ_c,post − ȳ_c,pre): four means of exact BIGINT sums, 4-dp
  // pinned only at the end. One keyed aggregate over events + one
  // users-frame conditional aggregate.
  def didEstimate(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-16").cast("date")
    val ev = Tables.events(s, dir)
    val users = ev.select(col("user_id")).distinct()
      .withColumn("treat",
        T.md5Int(concat(lit("did:"), col("user_id")), 8) % 2 === 0)
    val per = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(when(to_date(col("ts")) < cut, 1L).otherwise(0L))
          .as("y_pre"),
        sum(when(to_date(col("ts")) >= cut, 1L).otherwise(0L))
          .as("y_post"))
    val j = users.join(per, Seq("user_id"), "left")
      .select(col("treat"),
        coalesce(col("y_pre"), lit(0L)).as("y_pre"),
        coalesce(col("y_post"), lit(0L)).as("y_post"))
    val a = j.agg(
      sum(when(col("treat"), 1L).otherwise(0L)).as("n_treat"),
      sum(when(!col("treat"), 1L).otherwise(0L)).as("n_ctrl"),
      sum(when(col("treat"), col("y_pre")).otherwise(0L)).as("st_pre"),
      sum(when(col("treat"), col("y_post")).otherwise(0L)).as("st_post"),
      sum(when(!col("treat"), col("y_pre")).otherwise(0L)).as("sc_pre"),
      sum(when(!col("treat"), col("y_post")).otherwise(0L)).as("sc_post"))
    def m(sc: Column, n: Column): Column = sc.cast("double") / n.cast("double")
    a.select(col("n_treat"), col("n_ctrl"),
      M.oracleRound(m(col("st_pre"), col("n_treat")), 4).as("y_treat_pre"),
      M.oracleRound(m(col("st_post"), col("n_treat")), 4).as("y_treat_post"),
      M.oracleRound(m(col("sc_pre"), col("n_ctrl")), 4).as("y_ctrl_pre"),
      M.oracleRound(m(col("sc_post"), col("n_ctrl")), 4).as("y_ctrl_post"),
      M.oracleRound(
        (m(col("st_post"), col("n_treat")) - m(col("st_pre"), col("n_treat"))) -
        (m(col("sc_post"), col("n_ctrl")) - m(col("sc_pre"), col("n_ctrl"))),
        4).as("did"))
  }

  // q425: QINI curve — the treatment-aware upgrade of q394's
  // gains/lift deciles (uplift-model evaluation): rank users by an
  // md5 score, cut into deciles (deterministic (score, user) order),
  // and per cumulative decile report the Qini value
  // qini = Y_t − Y_c·(N_t/N_c) — incremental conversions vs the
  // control baseline scaled to the treated volume. Treatment/outcome
  // per user from one events pass; everything exact integers until
  // the final scaled subtraction, 4-dp pinned.
  def qiniCurve(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val users = ev.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("y"))
      .withColumn("treat",
        T.md5Int(concat(lit("did:"), col("user_id")), 8) % 2 === 0)
      .withColumn("score",
        T.md5Int(concat(lit("qini:"), col("user_id")), 4)
          .cast("double") / 65536.0)
      .coalesce(1) // users-frame ranking window (bounded by |users|)
    val Wd = Window.orderBy(col("score").desc, col("user_id"))
    val ranked = users
      .withColumn("decile", ntile(10).over(Wd))
    val per = ranked.groupBy(col("decile"))
      .agg(sum(when(col("treat"), 1L).otherwise(0L)).as("dn_t"),
        sum(when(!col("treat"), 1L).otherwise(0L)).as("dn_c"),
        sum(when(col("treat"), col("y")).otherwise(0L)).as("dy_t"),
        sum(when(!col("treat"), col("y")).otherwise(0L)).as("dy_c"))
      .coalesce(1)
    val Wc = Window.orderBy("decile")
    per
      .withColumn("n_t", sum(col("dn_t")).over(Wc))
      .withColumn("n_c", sum(col("dn_c")).over(Wc))
      .withColumn("y_t", sum(col("dy_t")).over(Wc))
      .withColumn("y_c", sum(col("dy_c")).over(Wc))
      .select(col("decile").cast("int").as("decile"),
        col("n_t"), col("n_c"), col("y_t"), col("y_c"),
        M.oracleRound(col("y_t").cast("double") -
          col("y_c").cast("double") * col("n_t").cast("double") /
            col("n_c").cast("double"), 4).as("qini"))
      .orderBy("decile")
  }

  // q422: exact SLIDING-WINDOW P95 of the daily click count — the
  // order-statistic window beside q71's moving averages (the "rolling
  // P95 latency" shape every SLO dashboard needs): over each 7-day
  // trailing window, p95 = the ceil(0.95·n)-th smallest value — an
  // EXACT order statistic from a sorted window array (the window is
  // ≤ 7 elements by construction, so collect-in-window is bounded
  // state, not a corpus-sized array). All-integer, hash-exact.
  def slidingP95(s: SparkSession, dir: String): DataFrame = {
    val W = Window.orderBy("day")
    val Ww = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .coalesce(1) // days-sized frame; single-partition walk window
      .withColumn("__w", sort_array(collect_list(col("x")).over(Ww)))
      .select(col("day"), col("x"),
        size(col("__w")).cast("int").as("n_window"),
        element_at(col("__w"),
          ceil(size(col("__w")) * lit(0.95)).cast("int")).as("p95"))
      .orderBy("day")
  }

  // q418: personalized PageRank over the q73 symmetrized
  // part↔supplier graph, seeds = part nodes divisible by 100 (=
  // partkey % 50 == 0 under the 2k encoding) — random walk with
  // restart, the seed-expansion relevance ranking
  // (GraphOps.personalizedPageRank carries the literal-restart
  // rounding contract). 3 rounds, oracle-unrolled like q73.
  def pprQuery(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(s, dir)
      .select((col("l_partkey") * 2).as("p"),
        (col("l_suppkey") * 2 + 1).as("sp"))
      .distinct()
      .localCheckpoint()
    val edges = pairs.select(col("p").as("src"), col("sp").as("dst"))
      .union(pairs.select(col("sp").as("src"), col("p").as("dst")))
    val seeds = pairs.select(col("p").as("node")).distinct()
      .filter(col("node") % 100 === 0)
    GraphOps.personalizedPageRank(edges, seeds, iters = 3,
        assumeDistinct = true)
      .orderBy("node")
  }

  // q419: CHOW structural-break test on the daily click series — did
  // the regression line change at the midpoint? OLS SSEs in closed
  // form from conditional EXACT sums (one pass over the days frame:
  // pooled / left-of-break / right-of-break Σx, Σy, Σxy, Σx², Σy²,
  // all BIGINT), then F = ((SSE_p − SSE_1 − SSE_2)/2) /
  // ((SSE_1 + SSE_2)/(n − 4)) in doubles of exact integers, 4-dp
  // pinned. The significance flag uses the documented rule-of-thumb
  // literal F > 5.0 (an exact F quantile needs the incomplete beta —
  // out of SQL's closed-form reach, same boundary as the q251 note).
  def chowBreak(s: SparkSession, dir: String): DataFrame = {
    val W = Window.orderBy("day")
    val d = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .coalesce(1)
      .withColumn("rn", row_number().over(W).cast("long"))
      .withColumn("ntot", count(lit(1)).over(Window.partitionBy()))
      .withColumn("seg",
        when(expr("rn <= ntot div 2"), 1).otherwise(2))
    def sums(pred: Column, tag: String) = Seq(
      sum(when(pred, 1L).otherwise(0L)).as(s"n$tag"),
      sum(when(pred, col("rn")).otherwise(0L)).as(s"sx$tag"),
      sum(when(pred, col("y")).otherwise(0L)).as(s"sy$tag"),
      sum(when(pred, col("rn") * col("y")).otherwise(0L)).as(s"sxy$tag"),
      sum(when(pred, col("rn") * col("rn")).otherwise(0L)).as(s"sxx$tag"),
      sum(when(pred, col("y") * col("y")).otherwise(0L)).as(s"syy$tag"))
    val aggs = sums(lit(true), "p") ++ sums(col("seg") === 1, "1") ++
      sums(col("seg") === 2, "2")
    val row = d.agg(aggs.head, aggs.tail: _*)
    def sse(t: String): Column = {
      val sxx = col(s"n$t") * col(s"sxx$t") - col(s"sx$t") * col(s"sx$t")
      val sxy = col(s"n$t") * col(s"sxy$t") - col(s"sx$t") * col(s"sy$t")
      val syy = col(s"n$t") * col(s"syy$t") - col(s"sy$t") * col(s"sy$t")
      (sxx.cast("double") * syy.cast("double") -
        sxy.cast("double") * sxy.cast("double")) /
        (col(s"n$t").cast("double") * sxx.cast("double"))
    }
    row
      .withColumn("ssep", sse("p"))
      .withColumn("sse1", sse("1"))
      .withColumn("sse2", sse("2"))
      .withColumn("f_raw",
        ((col("ssep") - col("sse1") - col("sse2")) / 2.0) /
          ((col("sse1") + col("sse2")) / (col("np") - 4).cast("double")))
      .select(col("np").as("n_days"),
        expr("np div 2").as("break_rn"),
        M.oracleRound(col("ssep"), 4).as("sse_pooled"),
        M.oracleRound(col("sse1"), 4).as("sse_left"),
        M.oracleRound(col("sse2"), 4).as("sse_right"),
        M.oracleRound(col("f_raw"), 4).as("f_stat"),
        (col("f_raw") > 5.0).as("break_flag"))
  }

  // q417: 4-truss peel over the q92 co-occurrence graph — the
  // edge-grain community scaffold beside q124's node-grain k-core:
  // three fixed peels dropping edges with fewer than 2 supporting
  // triangles (GraphOps.kTrussPeel carries the fixpoint + scale
  // contract), surviving edges reported with their post-peel support.
  // All-integer, so the oracle unrolls the peels as chained CTEs with
  // the common-neighbor support formulation (equal by definition to
  // the engine's per-triangle edge credit).
  def ktrussQuery(s: SparkSession, dir: String): DataFrame = {
    val pp = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 10 === 0)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val co = GraphOps.basketPairs(pp, "l_orderkey", "l_partkey")
    GraphOps.kTrussPeel(co, k = 4, iters = 3).orderBy("a", "b")
  }

  // q416: SIMPSON'S-PARADOX audit — does the sign of the
  // acctbal↔spend association reverse between the pooled population
  // and the per-nation strata? The association metric is the
  // covariance NUMERATOR n·Σxy − Σx·Σy at dollar grain (x =
  // floor(acctbal), y = Σ floor(o_totalprice) per customer) — all
  // BIGINT-exact (bounds at sf0.1: Σxy ≈ 9e12 per nation, n·Σxy ≈
  // 1.4e17 pooled, under 2^63), so the sign is hash-exact with no
  // float anywhere. One broadcast join + two keyed aggregates; output
  // is nations + 1 rows. flipped marks strata whose nonzero sign
  // opposes a nonzero pooled sign — the aggregation-bias alarm a
  // mixture-weighted corpus metric needs before trusting pooled
  // trends.
  def simpsonsFlip(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice")).cast("long")).as("y"))
    val base = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("n_name"),
        floor(col("c_acctbal")).cast("long").as("x"),
        coalesce(col("y"), lit(0L)).as("y"))
    def covSign(grouped: DataFrame): DataFrame = grouped
      .withColumn("cov_num",
        col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("cov_sign",
        when(col("cov_num") > 0, 1).when(col("cov_num") < 0, -1)
          .otherwise(0).cast("int"))
    val perNation = covSign(base.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy")))
      .select(concat(lit("nation:"), col("n_name")).as("scope"),
        col("n").as("n_customers"), col("cov_sign"))
    val pooled = covSign(base
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy")))
      .select(lit("pooled").as("scope"), col("n").as("n_customers"),
        col("cov_sign"))
    val pooledSign = pooled.select(col("cov_sign").as("__ps"))
    perNation.crossJoin(broadcast(pooledSign))
      .withColumn("flipped",
        col("cov_sign") =!= 0 && col("__ps") =!= 0 &&
          col("cov_sign") =!= col("__ps"))
      .select(col("scope"), col("n_customers"), col("cov_sign"),
        col("flipped"))
      .unionAll(pooled.withColumn("flipped", lit(false)))
      .orderBy("scope")
  }

  // q438: classical additive seasonal decomposition (STL-lite) of the
  // daily event series — trend = CENTERED 7-day moving average (exact:
  // a windowed integer sum over 7 days divided once), seasonal =
  // per-day-of-week mean of the detrended series re-centered to sum
  // zero, remainder = y − trend − seasonal. The capacity-planning
  // decomposition next to the q408 Holt recursion and q355
  // periodogram: weekly shape isolated from level drift. Every float
  // reduction is a rounded-term DECIMAL sum (the q336 lesson);
  // day-of-week comes from epoch-day mod 7 so both engines share one
  // integer convention. Days-sized frame after one keyed count —
  // the single-partition windows run on ~90 rows by construction.
  def seasonalDecomp(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("dow",
        pmod(datediff(col("day"), to_date(lit("1970-01-01"))), lit(7))
          .cast("int"))
      .coalesce(1)
    val w7 = Window.orderBy("day").rowsBetween(-3, 3)
    val wn = Window.orderBy("day")
    val trended = daily
      .withColumn("rn", row_number().over(wn))
      .withColumn("n", count(lit(1)).over(
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("trend",
        when(col("rn") >= 4 && col("rn") <= col("n") - 3,
          M.oracleRound(sum(col("y")).over(w7).cast("double") / 7, 6)))
      .withColumn("det",
        when(col("trend").isNotNull,
          M.oracleRound(col("y") - col("trend"), 6)))
      .localCheckpoint()
    val sdow = trended.filter(col("det").isNotNull)
      .groupBy("dow")
      .agg(M.oracleRound(
        sum(col("det").cast("decimal(20,6)")).cast("double") /
          count(lit(1)), 6).as("s_raw"))
    val smean = sdow.agg(M.oracleRound(
      sum(col("s_raw").cast("decimal(20,6)")).cast("double") / 7, 6)
      .as("sbar"))
    val seasonal = sdow.crossJoin(broadcast(smean))
      .select(col("dow"),
        M.oracleRound(col("s_raw") - col("sbar"), 6).as("seasonal"))
    trended.join(broadcast(seasonal), Seq("dow"))
      .select(col("day"), col("dow"), col("y"), col("trend"),
        col("seasonal"),
        when(col("trend").isNotNull, M.oracleRound(
          col("y") - col("trend") - col("seasonal"), 4)).as("remainder"))
      .orderBy("day")
  }

  // q439: join-cardinality synopsis audit — the System-R/CBO estimate
  // |A⋈B| ≈ |A|·|B| / max(ndv_A, ndv_B) scored against the EXACT join
  // size Σ_k d_A(k)·d_B(k), for the three fact-dimension keys. Both
  // numbers come from per-side aggregates only — the exact size via a
  // degree-histogram join (never executing the wide join to measure
  // it), which is precisely how a 100 TB planner should size a join
  // from synopses. err_ratio = estimate/actual exposes where the
  // uniformity assumption breaks (skewed degree distributions).
  def joinSizeSynopsis(s: SparkSession, dir: String): DataFrame = {
    def side(df: DataFrame, key: String): (DataFrame, DataFrame) = {
      val deg = df.groupBy(col(key).as("k")).agg(count(lit(1)).as("d"))
      val stats = deg.agg(sum(col("d")).as("rows"),
        count(lit(1)).as("ndv"))
      (deg, stats)
    }
    def audit(name: String, a: DataFrame, ka: String,
        b: DataFrame, kb: String): DataFrame = {
      val (da, sa) = side(a, ka)
      val (db, sb) = side(b, kb)
      val actual = da.join(db.select(col("k"), col("d").as("d2")), "k")
        .agg(sum(col("d") * col("d2")).as("actual"))
      sa.select(col("rows").as("rows_a"), col("ndv").as("ndv_a"))
        .crossJoin(sb.select(col("rows").as("rows_b"), col("ndv").as("ndv_b")))
        .crossJoin(actual)
        .select(lit(name).as("join_key"),
          col("rows_a"), col("rows_b"), col("ndv_a"), col("ndv_b"),
          M.oracleRound(col("rows_a").cast("double") * col("rows_b") /
            greatest(col("ndv_a"), col("ndv_b")), 4).as("est_sysr"),
          col("actual"))
        .withColumn("err_ratio", M.oracleRound(
          col("est_sysr").cast("double") / col("actual"), 4))
    }
    val li = Tables.lineitem(s, dir)
    audit("orderkey", Tables.orders(s, dir), "o_orderkey", li, "l_orderkey")
      .unionAll(audit("partkey", Tables.part(s, dir), "p_partkey",
        li, "l_partkey"))
      .unionAll(audit("suppkey", Tables.supplier(s, dir), "s_suppkey",
        li, "l_suppkey"))
      .orderBy("join_key")
  }

  // q431: Bradley–Terry preference strengths by minorization-
  // maximization — the pairwise-comparison fit under every RLHF
  // reward model and LLM-judge leaderboard (Bradley & Terry 1952;
  // Hunter 2004 MM). Duels are derived per user: for each pair of
  // event types a user performed unequal counts of, the heavier type
  // wins. The MM update p_i ← W_i / Σ_j n_ij/(p_i+p_j) runs THREE
  // Jacobi-style rounds from p=1, each round's strengths re-rounded
  // to 6 dp (the q53/q73 fixed-point trick that unrolls an iterative
  // fit into exact oracle CTEs); per-opponent terms are rounded then
  // summed as DECIMAL(28,6), so the one unordered float reduction is
  // exact and order-free. Scale shape: the user-keyed duel derivation
  // is the distributed stage (one groupBy(user,type) + one per-user
  // self-join bounded by the type count); the MM rounds run on the
  // aggregated |types|² pair matrix — constant-size frames however
  // large the event log. Denominator guard: greatest(p_i+p_j, 1e-9)
  // keeps a zero-win item's 0-strength from dividing by zero.
  def bradleyTerry(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val a = counts.select(col("user_id"), col("event_type").as("i"),
      col("cnt").as("ci"))
    val b = counts.select(col("user_id").as("__u2"),
      col("event_type").as("j"), col("cnt").as("cj"))
    val duels = a.join(b,
        col("user_id") === col("__u2") && col("i") < col("j"))
      .filter(col("ci") =!= col("cj"))
      .select(col("i"), col("j"),
        when(col("ci") > col("cj"), 1L).otherwise(0L).as("wi"))
    val pm = duels.groupBy("i", "j")
      .agg(count(lit(1)).as("n"), sum(col("wi")).as("w"))
    val sym = pm.select(col("i"), col("j"), col("n"), col("w"))
      .union(pm.select(col("j").as("i"), col("i").as("j"), col("n"),
        (col("n") - col("w")).as("w")))
      .localCheckpoint()
    val wins = sym.groupBy("i")
      .agg(sum(col("w")).as("wi"), sum(col("n")).as("gi"))
      .localCheckpoint()
    var p = wins.select(col("i"), lit(1.0).as("p"))
    for (_ <- 1 to 3) {
      val terms = sym
        .join(p.select(col("i").as("__pi_i"), col("p").as("pi")),
          col("i") === col("__pi_i"))
        .join(p.select(col("i").as("__pj_i"), col("p").as("pj")),
          col("j") === col("__pj_i"))
        .select(col("i"),
          M.oracleRound(col("n") /
            greatest(col("pi") + col("pj"), lit(1e-9)), 6)
            .cast("decimal(28,6)").as("t"))
      p = terms.groupBy("i").agg(sum(col("t")).as("denom"))
        .join(wins, "i")
        .select(col("i"), M.oracleRound(
          col("wi").cast("double") / col("denom").cast("double"), 6).as("p"))
        .localCheckpoint()
    }
    val tot = p.agg(sum(col("p").cast("decimal(18,6)")).as("t"))
    p.join(wins, "i").crossJoin(broadcast(tot))
      .select(col("i").as("event_type"), col("gi").as("games"),
        col("wi").as("wins"), col("p").as("strength"),
        M.oracleRound(col("p") / col("t").cast("double"), 6).as("share"))
      .orderBy(col("share").desc, col("event_type"))
  }
}
