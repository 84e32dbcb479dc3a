package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-quality operators — the validation layer a 100 TB ingest runs
  * BEFORE data reaches training or serving: single-pass column
  * profiling (the "what does this table look like" read) and a
  * declarative constraint suite (the Deequ-style "is this table fit
  * for use" verdict). Both emit tiny verdict/profile tables — the
  * inputs scan once per table, nothing row-grain ever crosses an
  * exchange except the key columns the set-level checks group on.
  */
object Quality {

  /** Canonical string rendering per column type, shared by profile
    * min/max cells so one output column can carry every column's
    * extrema without float-formatting drift between engines:
    * integrals render as decimal strings, doubles under the repo's
    * cents protocol (floor(x*100+0.5) as BIGINT — the test tables'
    * doubles are money-like 2-dp quantities; the scale is a knob),
    * timestamps as 'yyyy-MM-dd HH:mm:ss', strings as themselves. */
  private def canon(c: Column, dt: DataType, centsScale: Int): Column = dt match {
    case DoubleType | FloatType =>
      floor(c * math.pow(10, centsScale) + lit(0.5)).cast("long").cast("string")
    case TimestampType | TimestampNTZType => date_format(c, "yyyy-MM-dd HH:mm:ss")
    case _ => c.cast("string")
  }

  /** q73_dq_profile — per-column profile of a table: row count, null
    * count, exact distinct count, canonical min/max. Two aggregation
    * passes, crossJoined into one row: a grouping-free fold for the
    * counts and min/max, and the multi-column exact-distinct aggregate,
    * which plans as Spark's Expand + two-phase aggregate (its shuffle
    * is (#cols + 1) × input wide, partial-aggregated map-side). At
    * 100 TB the distinct pass swaps in approx_count_distinct (one
    * aggregate — the profile contract is schema-identical), but the
    * exact form is what an oracle can check. Output is #cols rows. */
  def dqProfile(df: DataFrame, cols: Seq[String], centsScale: Int = 2): DataFrame = {
    require(cols.nonEmpty, "dqProfile: need at least one column")
    val schema = df.schema
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"dqProfile: no column '$c' in ${schema.fieldNames.mkString(",")}"))
    // TWO aggregation passes, not one: string min/max carry var-width
    // aggregation buffers, which force the whole aggregate — including
    // the Expand-multiplied exact-distinct path — into SortAggregate
    // (two full sorts of (#cols+1) x input rows). Splitting the
    // distinct counts into their own aggregate keeps them on
    // HashAggregate (grouping on var-width KEYS is fine; only var-
    // width BUFFERS demote), and the min/max pass is a grouping-free
    // single fold that never sorts. Same values, one extra
    // column-pruned scan, two corpus-sized sorts removed.
    val mmAggs = count(lit(1)).as("n_rows") +:
      cols.flatMap { c =>
        val dt = schema(c).dataType
        Seq(count(col(c)).as(s"__cnt_$c"),
          canon(min(col(c)), dt, centsScale).as(s"__min_$c"),
          canon(max(col(c)), dt, centsScale).as(s"__max_$c"))
      }
    val dstAggs = cols.map(c => countDistinct(col(c)).as(s"__dst_$c"))
    val one = df.agg(mmAggs.head, mmAggs.tail: _*)
      .crossJoin(df.agg(dstAggs.head, dstAggs.tail: _*))
    val rows = cols.map { c =>
      struct(lit(c).as("col_name"), col("n_rows"),
        (col("n_rows") - col(s"__cnt_$c")).as("n_null"),
        col(s"__dst_$c").as("n_distinct"),
        col(s"__min_$c").as("min_repr"), col(s"__max_$c").as("max_repr"))
    }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
      .orderBy("col_name")
  }

  /** Constraint algebra for [[dqConstraints]]. Each check yields one
    * verdict row (check_name, checked, violations, status). */
  sealed trait DqCheck { def name: String }
  /** Row-level predicate on one table; a NULL predicate result counts
    * as a violation (a check that cannot evaluate did not pass). */
  final case class RowPredicate(name: String, table: String, predicate: Column) extends DqCheck
  /** Key uniqueness: violations = rows in excess of one per key. */
  final case class Unique(name: String, table: String, keys: Seq[String]) extends DqCheck
  /** Referential integrity: child keys must exist in the parent. */
  final case class RefIntegrity(name: String, child: String, childKeys: Seq[String],
                                parent: String, parentKeys: Seq[String]) extends DqCheck
  /** Cross-table predicate over the child⋈parent equi-join (e.g.
    * "ship date on/after order date"); checked = joined row count. */
  final case class JoinPredicate(name: String, child: String, childKeys: Seq[String],
                                 parent: String, parentKeys: Seq[String],
                                 predicate: Column) extends DqCheck

  /** q74_dq_constraints — declarative constraint validation: every
    * RowPredicate on a table folds into ONE conditional-aggregation
    * scan of that table (no per-check passes), set-level checks
    * (unique / referential / join) each cost their one keyed exchange
    * — and nothing else: the verdict table is #checks rows. At 100 TB
    * the row-predicate block is a map-side-only pass over each table,
    * and the key exchanges shuffle only key columns. */
  def dqConstraints(tables: Map[String, DataFrame], checks: Seq[DqCheck]): DataFrame = {
    require(checks.nonEmpty, "dqConstraints: need at least one check")
    checks.foreach {
      case RowPredicate(n, t, _) => require(tables.contains(t), s"$n: unknown table '$t'")
      case Unique(n, t, _) => require(tables.contains(t), s"$n: unknown table '$t'")
      case RefIntegrity(n, c, _, p, _) =>
        require(tables.contains(c) && tables.contains(p), s"$n: unknown table '$c'/'$p'")
      case JoinPredicate(n, c, _, p, _, _) =>
        require(tables.contains(c) && tables.contains(p), s"$n: unknown table '$c'/'$p'")
    }
    val spark = tables.head._2.sparkSession
    import spark.implicits._

    // one fused scan per table for all its row predicates
    val rowVerdicts: Seq[DataFrame] = checks.collect { case r: RowPredicate => r }
      .groupBy(_.table).toSeq.map { case (t, preds) =>
        val aggs = count(lit(1)).as("checked") +:
          preds.map(p => sum(when(coalesce(p.predicate, lit(false)), 0L)
            .otherwise(1L)).as(s"__v_${p.name}"))
        val one = tables(t).agg(aggs.head, aggs.tail: _*)
        val rows = preds.map(p => struct(lit(p.name).as("check_name"),
          col("checked"), coalesce(col(s"__v_${p.name}"), lit(0L)).as("violations")))
        one.select(explode(array(rows: _*)).as("p")).select("p.*")
      }

    val setVerdicts: Seq[DataFrame] = checks.collect {
      case Unique(name, t, keys) =>
        // violations = Σ per-key (count − 1) over keys seen more than
        // once; NULL keys group together (GROUP BY semantics, engine-
        // agnostic — unlike COUNT(DISTINCT) null rules)
        val grouped = tables(t).groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("c"))
        grouped.agg(coalesce(sum("c"), lit(0L)).as("checked"),
            coalesce(sum(when(col("c") > 1, col("c") - 1).otherwise(0L)), lit(0L))
              .as("violations"))
          .select(lit(name).as("check_name"), col("checked"), col("violations"))
      case RefIntegrity(name, c, ck, p, pk) =>
        val child = tables(c)
        val parent = tables(p).select(pk.map(col): _*).distinct()
        val joinCond = ck.zip(pk).map { case (a, b) => child(a) === parent(b) }
          .reduce(_ && _)
        val orphans = child.join(parent, joinCond, "left_anti")
          .agg(count(lit(1)).as("violations"))
        child.agg(count(lit(1)).as("checked")).crossJoin(broadcast(orphans))
          .select(lit(name).as("check_name"), col("checked"), col("violations"))
      case JoinPredicate(name, c, ck, p, pk, pred) =>
        val child = tables(c)
        val parent = tables(p)
        val joinCond = ck.zip(pk).map { case (a, b) => child(a) === parent(b) }
          .reduce(_ && _)
        child.join(parent, joinCond)
          .agg(count(lit(1)).as("checked"),
            coalesce(sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)), lit(0L))
              .as("violations"))
          .select(lit(name).as("check_name"), col("checked"), col("violations"))
    }

    (rowVerdicts ++ setVerdicts).reduce(_ unionByName _)
      .withColumn("status", when(col("violations") === 0L, "pass").otherwise("fail"))
      .select("check_name", "checked", "violations", "status")
      .orderBy("check_name")
  }

  /** Parse a JSON check declaration into the [[DqCheck]] algebra — the
    * seam that lets a task_parm row author constraints WITHOUT
    * recompiling (the Deequ-style deployment shape): predicates are
    * SQL expression strings (`expr`-compiled, so they run codegen'd
    * like the case-class form), tables are referenced by name against
    * whatever map the caller binds. Shape:
    * `[{"type":"rowPredicate","name":"...","table":"...","predicate":"..."},
    *   {"type":"unique","name":"...","table":"...","keys":[...]},
    *   {"type":"refIntegrity","name":"...","child":"...","childKeys":[...],
    *    "parent":"...","parentKeys":[...]},
    *   {"type":"joinPredicate", ... ,"predicate":"..."}]`.
    * Malformed entries fail loudly — a constraint suite that silently
    * drops a check would report fitness it never tested. */
  def parseChecks(json: String): Seq[DqCheck] = {
    import org.json4s._
    def s(o: Map[String, JValue], k: String, ctx: String): String = o.get(k) match {
      case Some(JString(v)) => v
      case _ => throw new IllegalArgumentException(
        s"parseChecks: $ctx needs string field '$k'")
    }
    def arr(o: Map[String, JValue], k: String, ctx: String): Seq[String] = o.get(k) match {
      case Some(JArray(vs)) => vs.map {
        case JString(v) => v
        case other => throw new IllegalArgumentException(
          s"parseChecks: $ctx '$k' holds non-string $other")
      }
      case _ => throw new IllegalArgumentException(
        s"parseChecks: $ctx needs array field '$k'")
    }
    org.json4s.jackson.JsonMethods.parse(json) match {
      case JArray(items) => items.map {
        case JObject(fields) =>
          val o = fields.toMap
          s(o, "type", "check") match {
            case "rowPredicate" => RowPredicate(s(o, "name", "rowPredicate"),
              s(o, "table", "rowPredicate"), expr(s(o, "predicate", "rowPredicate")))
            case "unique" => Unique(s(o, "name", "unique"),
              s(o, "table", "unique"), arr(o, "keys", "unique"))
            case "refIntegrity" => RefIntegrity(s(o, "name", "refIntegrity"),
              s(o, "child", "refIntegrity"), arr(o, "childKeys", "refIntegrity"),
              s(o, "parent", "refIntegrity"), arr(o, "parentKeys", "refIntegrity"))
            case "joinPredicate" => JoinPredicate(s(o, "name", "joinPredicate"),
              s(o, "child", "joinPredicate"), arr(o, "childKeys", "joinPredicate"),
              s(o, "parent", "joinPredicate"), arr(o, "parentKeys", "joinPredicate"),
              expr(s(o, "predicate", "joinPredicate")))
            case t => throw new IllegalArgumentException(
              s"parseChecks: unknown check type '$t'")
          }
        case other => throw new IllegalArgumentException(
          s"parseChecks: expected check object, got $other")
      }
      case _ => throw new IllegalArgumentException(
        "parseChecks: expected a JSON array of checks")
    }
  }

  /** Row-level constraint gate as a STATELESS column transform — the
    * shape that runs identically on a batch DataFrame and a streaming
    * one (s33's twin contract): each row gains `violated` (comma list
    * of failing check names, NULL predicate = violation) and `route`
    * (admit / quarantine). No shuffle, no state — ingest line rate. */
  def rowGate(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "rowGate: need at least one check")
    val flags = checks.map { case (n, p) =>
      when(coalesce(p, lit(false)), lit(null).cast("string")).otherwise(lit(n))
    }
    df.withColumn("violated", concat_ws(",", array(flags: _*)))
      .withColumn("route",
        when(col("violated") === "", "admit").otherwise("quarantine"))
  }

  /** The event-stream instance s33 and its batch twin share: schema
    * sanity any event bus should enforce at the door. */
  def eventChecks: Seq[(String, Column)] = Seq(
    "user_id_present" -> col("user_id").isNotNull,
    "ts_present" -> col("ts").isNotNull,
    "type_domain" -> col("event_type").isin("view", "click", "signup", "purchase", "error"),
    "value_nonneg" -> (col("value") >= 0))

  /** The inventory's q73 instance: full profile of `orders`. */
  def ordersProfile(orders: DataFrame): DataFrame =
    dqProfile(orders, Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"))

  /** The inventory's q74 instance over orders + lineitem: a mix of
    * genuinely-passing domain checks and two constraints the synthetic
    * data genuinely violates (duplicate (orderkey, linenumber) pairs;
    * ship dates before the order date) — the verdict table must
    * surface both outcomes, not just vacuous passes. */
  def ordersLineitemChecks(orders: DataFrame, lineitem: DataFrame): DataFrame =
    dqConstraints(
      Map("orders" -> orders, "lineitem" -> lineitem),
      Seq(
        RowPredicate("orders_totalprice_positive", "orders", col("o_totalprice") > 0),
        RowPredicate("orders_status_domain", "orders",
          col("o_orderstatus").isin("F", "O", "P")),
        RowPredicate("lineitem_quantity_range", "lineitem",
          col("l_quantity") >= 1 && col("l_quantity") <= 50),
        RowPredicate("lineitem_discount_range", "lineitem",
          col("l_discount") >= 0 && col("l_discount") <= 0.1),
        Unique("orders_orderkey_unique", "orders", Seq("o_orderkey")),
        Unique("lineitem_line_unique", "lineitem", Seq("l_orderkey", "l_linenumber")),
        RefIntegrity("lineitem_orderkey_ri", "lineitem", Seq("l_orderkey"),
          "orders", Seq("o_orderkey")),
        JoinPredicate("lineitem_ship_after_order", "lineitem", Seq("l_orderkey"),
          "orders", Seq("o_orderkey"),
          col("l_shipdate") >= col("o_orderdate"))))
}
