package perfbench

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.Aggs
import graft.dedup.Dedup
import graft.io.Tables
import graft.plans.AsofMerge
import graft.sim.Similarity
import graft.window.Moving

/** One op's parameters, as the plan file gives them. */
final case class OpSpec(id: Long, shape: String, p: Map[String, Any]) {
  def long(k: String): Long = p(k) match {
    case b: BigInt => b.toLong
    case d: Double => d.toLong
    case x => x.toString.toLong
  }
  def int(k: String): Int = long(k).toInt
  def dbl(k: String): Double = p(k) match {
    case b: BigInt => b.toDouble
    case d: Double => d
    case x => x.toString.toDouble
  }
  def str(k: String): String = p(k).toString
  def bool(k: String): Boolean = p(k).asInstanceOf[Boolean]
}

/** The olap query shapes, built through graft's public builders over a
  * table source: the cached sf0.1 frames, or the on-disk replicated
  * layout. Each op is built inside a `build:<module>` span and executed
  * by one `collect()` inside an `action` span.
  */
final class Olap(spark: SparkSession, tr: Tracer, table: String => DataFrame,
                 series: () => DataFrame, dataDir: String) {
  private val day0 = LocalDate.parse("1995-01-01")
  private def day(d: Long): Column =
    lit(java.sql.Timestamp.valueOf(day0.plusDays(d).atStartOfDay()))
  /** Doubles leave as float, matching the oracle's REAL casts. */
  private def fl(c: Column): Column = c.cast("float")

  /** Input rows each shape covers (base tables it reads), for rows_per_s. */
  def rowsCovered(shape: String, sizes: Map[String, Long]): Long = shape match {
    case "q1_agg" | "vwap" | "filter_count" | "hash_multi" | "tpch_q6" => sizes("lineitem")
    case "tpch_q3" => sizes("lineitem") + sizes("orders") + sizes("customer")
    case "topk" => sizes("orders")
    case "grid_agg" | "cum_agg" | "window_agg" | "get" | "asof_exec" => sizes("events")
    case "minhash_lsh" => sizes("documents")
    case "knn" => sizes("embeddings")
  }

  private def read[T](name: String)(f: => T): T = tr.span(s"read:$name")(f)

  /** Builds the op's DataFrame inside the span of the module that builds it. */
  def build(op: OpSpec): DataFrame = op.shape match {
    case "q1_agg" =>
      val li = read("lineitem")(table("lineitem"))
      tr.span("build:agg") {
        li.filter(col("l_shipdate") <= day(op.long("ship_max_day")))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(fl(sum(col("l_quantity"))).as("sum_qty"),
            fl(sum(col("l_extendedprice"))).as("sum_base_price"),
            fl(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price"),
            fl(Aggs.wavg(col("l_quantity"), col("l_extendedprice"))).as("wavg_price"),
            fl(avg(col("l_discount"))).as("avg_disc"),
            count(lit(1)).as("count_order"))
      }
    case "vwap" =>
      val li = read("lineitem")(table("lineitem"))
      tr.span("build:agg") {
        li.filter(col("l_suppkey") >= op.long("supp_lo") && col("l_suppkey") < op.long("supp_hi") &&
            col("l_shipdate") >= day(op.long("day_lo")) && col("l_shipdate") < day(op.long("day_hi")))
          .groupBy(col("l_suppkey"))
          .agg(fl(Aggs.wavg(col("l_quantity"), col("l_extendedprice"))).as("vwap"))
      }
    case "filter_count" =>
      val li = read("lineitem")(table("lineitem"))
      tr.span("build:agg") {
        li.filter(col("l_extendedprice") > col("l_quantity") * lit(op.dbl("price_per_qty")) &&
            col("l_shipdate") >= day(op.long("day_lo")) && col("l_shipdate") < day(op.long("day_hi")))
          .agg(count(lit(1)).as("n"))
      }
    case "hash_multi" =>
      val li = read("lineitem")(table("lineitem"))
      tr.span("build:agg") {
        li.filter(col("l_partkey") >= op.long("part_lo") && col("l_partkey") < op.long("part_hi"))
          .groupBy(col("l_returnflag"), col("l_linestatus"), year(col("l_shipdate")).as("ship_year"))
          .agg(count(lit(1)).as("n"), fl(sum(col("l_extendedprice"))).as("sum_price"),
            fl(avg(col("l_discount"))).as("avg_disc"), fl(min(col("l_quantity"))).as("min_qty"),
            fl(max(col("l_quantity"))).as("max_qty"),
            Aggs.all(col("l_partkey")).as("ha_all"), Aggs.any(col("l_partkey")).as("ha_any"))
      }
    case "grid_agg" =>
      val s = series()
      tr.span("build:agg") {
        Aggs.gridAgg(s.filter(col("pos") >= op.long("pos_lo") && col("pos") < op.long("pos_hi")),
          Seq("event_type"), "value", op.long("width"))
          .select(col("event_type"), col("grid"), col("grid_count"),
            fl(col("grid_sum")).as("grid_sum"), fl(col("grid_min")).as("grid_min"),
            fl(col("grid_max")).as("grid_max"), fl(col("grid_var")).as("grid_var"))
      }
    case "cum_agg" =>
      val s = series()
      tr.span("build:agg") {
        // a running frame at pos p reads only rows at or before p, so the
        // prefix filter goes below the frame and the emit filter above it
        Aggs.cumAgg(s.filter(col("pos") < op.long("pos_hi")), Seq("event_type"), "value")
          .filter(col("pos") >= op.long("emit_lo"))
          .select(col("event_type"), col("pos"), fl(col("cum_sum")).as("cum_sum"),
            fl(col("cum_min")).as("cum_min"), fl(col("cum_max")).as("cum_max"),
            col("cum_count"))
      }
    case "window_agg" =>
      val s = series()
      val n = op.int("n")
      tr.span("build:window") {
        Moving.windowAgg(s.filter(col("pos") >= op.long("pos_lo") - (n - 1) &&
            col("pos") < op.long("pos_hi")), Seq("event_type"), "value", n)
          .filter(col("pos") >= op.long("pos_lo"))
          .select(col("event_type"), col("pos"), fl(col("w_sum")).as("w_sum"),
            fl(col("w_min")).as("w_min"), fl(col("w_max")).as("w_max"))
      }
    case "topk" =>
      val o = read("orders")(table("orders"))
      tr.span("build:agg") {
        Aggs.topK(o.filter(col("o_orderdate") >= day(op.long("day_lo")) &&
            col("o_orderdate") < day(op.long("day_hi"))),
          "o_totalprice", op.int("k"), op.bool("desc"), "o_orderkey")
          .select(col("o_orderkey"), fl(col("o_totalprice")).as("o_totalprice"))
      }
    case "get" =>
      val ev = read("events")(Tables.rangeScan(spark, dataDir, "events",
        op.long("from_ns"), op.long("till_ns")))
      ev.filter(col("event_type") === op.str("event_type"))
        .select(col("event_id"), col("user_id"), fl(col("value")).as("value"))
    case "tpch_q6" =>
      val li = read("lineitem")(table("lineitem"))
      tr.span("build:agg") {
        li.filter(col("l_shipdate") >= day(op.long("day_lo")) && col("l_shipdate") < day(op.long("day_hi")) &&
            col("l_discount").between(op.dbl("disc_lo"), op.dbl("disc_hi")) &&
            col("l_quantity") < op.long("qty_max"))
          .agg(fl(sum(col("l_extendedprice") * col("l_discount"))).as("revenue"),
            count(lit(1)).as("n"))
      }
    case "tpch_q3" =>
      val (c, o, li) = read("tpch")((table("customer"), table("orders"), table("lineitem")))
      val cut = day(op.long("cut_day"))
      tr.span("build:join") {
        c.filter(col("c_nationkey") < op.long("nation_max"))
          .join(o.filter(col("o_orderdate") < cut), col("c_custkey") === col("o_custkey"))
          .join(li.filter(col("l_shipdate") > cut), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(fl(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(op.int("k"))
          .select(col("o_orderkey"), col("revenue"), col("o_orderpriority"))
      }
    case "asof_exec" =>
      val ev = read("events")(table("events"))
      tr.span("build:plans") {
        val users = col("user_id") >= op.long("user_lo") && col("user_id") < op.long("user_hi")
        val l = ev.filter(col("event_type") === "purchase" && users)
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        val r = ev.filter(col("event_type") === "signup" && users)
          .select(col("user_id"), col("ts"), col("value"))
        AsofMerge.asofJoin(l, r, Seq("user_id"), "ts", "value", "asof_value")
          .select(col("user_id"), col("event_id"), fl(col("value")).as("value"),
            fl(col("asof_value")).as("asof_value"))
      }
    case "minhash_lsh" =>
      val d = read("documents")(table("documents"))
      tr.span("build:dedup") {
        Dedup.minhashLshPairsVerified(
          d.filter(col("doc_id") >= op.long("doc_lo") && col("doc_id") < op.long("doc_hi")),
          "doc_id", "text")
      }
    case "knn" =>
      val e = read("embeddings")(table("embeddings"))
      val qv = tr.span("action") {
        e.filter(col("vec_id") === op.long("query_id")).select(col("embedding"))
          .head().getSeq[Float](0)
      }
      tr.span("build:sim")(Similarity.topKCosine(e, "vec_id", "embedding", qv, op.int("k")))
  }

  /** Runs one op: build, then one collect. */
  def run(op: OpSpec): (Array[String], Array[Row]) = {
    val df = build(op)
    val rows = tr.span("action")(df.collect())
    (df.columns, rows)
  }
}
