package graft.perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Table sizes of the TPC-H-shaped input at a scale factor: TPC-H's
  * own per-sf cardinalities, with exactly ten orders per customer and
  * four lines per order. Uniform fan-out keeps the cost of a keyed
  * lookup the same whichever key the seed makes hot, so runs with
  * different seeds measure the same work; the skew is in the access
  * pattern (Zipf keys), not in the data. */
final case class Scale(sf: Double) {
  val customers: Int = math.max(10, (150000 * sf).toInt)
  val suppliers: Int = math.max(2, (10000 * sf).toInt)
  val parts: Int = math.max(20, (200000 * sf).toInt)
  val ordersPerCustomer = 10
  val linesPerOrder = 4
  val orders: Int = customers * ordersPerCustomer
}

/** Seeded generator of the tables `graft.core.GraphViews.tpch` reads
  * (region, nation, customer, supplier, part, orders, lineitem), with
  * the column types of the repository's test tables. The same seed and
  * scale give byte-for-byte the same rows. */
object DataGen {
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Nations = Array("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
    "UNITED KINGDOM", "UNITED STATES")
  // TPC-H's nation -> region assignment
  private val NationRegion = Array(0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3, 4, 2, 3, 3, 1)
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val OrderStatus = Array("F", "O", "P")
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatus = Array("F", "O")
  private val Types = Array("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  private val Epoch1992 = 694224000000L // 1992-01-01T00:00:00Z
  private val DayMs = 86400000L

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** All seven tables as (name, schema, rows). */
  def tables(seed: Long, scale: Scale): Seq[(String, StructType, IndexedSeq[Row])] = {
    def rng(table: Int) = new SplittableRandom(seed * 1000003L + table)
    val region = Regions.indices.map(i => Row(i, Regions(i)))
    val nation = Nations.indices.map(i => Row(i, Nations(i), NationRegion(i)))
    val cr = rng(3)
    val customer = (1 to scale.customers).map { k =>
      Row(k.toLong, f"Customer#$k%09d", cr.nextInt(25), money(cr, -999.99, 9999.99),
        Segments(cr.nextInt(Segments.length)))
    }
    val sr = rng(5)
    val supplier = (1 to scale.suppliers).map { k =>
      Row(k.toLong, f"Supplier#$k%09d", sr.nextInt(25), money(sr, -999.99, 9999.99))
    }
    val pr = rng(6)
    val part = (1 to scale.parts).map { k =>
      Row(k.toLong, s"part $k", s"Brand#${1 + pr.nextInt(5)}${1 + pr.nextInt(5)}",
        Types(pr.nextInt(Types.length)), 1 + pr.nextInt(50), money(pr, 900.0, 2000.0))
    }
    val or = rng(4)
    val lr = rng(7)
    val orders = IndexedSeq.newBuilder[Row]
    val lineitem = IndexedSeq.newBuilder[Row]
    (1 to scale.orders).foreach { ok =>
      val date = Epoch1992 + or.nextInt(2400) * DayMs
      orders += Row(ok.toLong, (1 + (ok - 1) % scale.customers).toLong,
        OrderStatus(or.nextInt(3)), money(or, 1000.0, 450000.0), new Timestamp(date),
        Priorities(or.nextInt(Priorities.length)))
      // distinct parts within an order: each (order, part) pair is one
      // CONTAINS relationship of the graph view
      val parts = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (parts.size < scale.linesPerOrder) parts += (1 + lr.nextInt(scale.parts)).toLong
      parts.zipWithIndex.foreach { case (pk, i) =>
        val qty = (1 + lr.nextInt(50)).toDouble
        lineitem += Row(ok.toLong, pk, (1 + lr.nextInt(scale.suppliers)).toLong, i + 1, qty,
          math.round(qty * money(lr, 900.0, 2000.0) * 100) / 100.0, lr.nextInt(11) / 100.0,
          lr.nextInt(9) / 100.0, ReturnFlags(lr.nextInt(3)), LineStatus(lr.nextInt(2)),
          new Timestamp(date + (1 + lr.nextInt(120)) * DayMs))
      }
    }
    def st(fields: (String, DataType)*) = StructType(fields.map { case (n, t) => StructField(n, t) })
    Seq(
      ("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType), region),
      ("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), nation),
      ("customer", st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
        "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType), customer),
      ("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
        "s_acctbal" -> DoubleType), supplier),
      ("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType), part),
      ("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType,
        "o_orderpriority" -> StringType), orders.result()),
      ("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
        "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
        "l_linestatus" -> StringType, "l_shipdate" -> TimestampType), lineitem.result()))
  }

  /** Write the tables as `<dir>/<name>.parquet`, one file each. */
  def write(spark: SparkSession, dir: String, seed: Long, scale: Scale): Unit =
    tables(seed, scale).foreach { case (name, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}

/** The answer key: the generated tables read back with plain Spark
  * (`spark.read.parquet` + collect, no Cypher compiler involved), held
  * as driver-side maps that expected answers are computed from. */
final class Reference(spark: SparkSession, dir: String) {
  private def rows(t: String, cols: String*): Array[Row] =
    spark.read.parquet(s"$dir/$t.parquet").select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect()

  /** custkey -> (name, acctbal, nationkey, segment) */
  val customers: Map[Long, (String, Double, Int, String)] =
    rows("customer", "c_custkey", "c_name", "c_acctbal", "c_nationkey", "c_mktsegment")
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2), r.getInt(3), r.getString(4)))).toMap
  /** suppkey -> nationkey */
  val suppliers: Map[Long, Int] =
    rows("supplier", "s_suppkey", "s_nationkey").map(r => r.getLong(0) -> r.getInt(1)).toMap
  /** nationkey -> (name, regionkey) */
  val nations: Map[Int, (String, Int)] =
    rows("nation", "n_nationkey", "n_name", "n_regionkey")
      .map(r => r.getInt(0) -> ((r.getString(1), r.getInt(2)))).toMap
  val regions: Seq[Int] = rows("region", "r_regionkey").map(_.getInt(0)).toSeq
  val partKeys: Seq[Long] = rows("part", "p_partkey").map(_.getLong(0)).toSeq
  /** orderkey -> (custkey, totalprice) */
  val orders: Map[Long, (Long, Double)] =
    rows("orders", "o_orderkey", "o_custkey", "o_totalprice")
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
  /** orderkey -> part keys, one per lineitem row */
  val lines: Map[Long, Seq[Long]] =
    rows("lineitem", "l_orderkey", "l_partkey").groupBy(_.getLong(0))
      .map { case (o, rs) => o -> rs.map(_.getLong(1)).toSeq }
  /** custkey -> its order keys, ascending */
  val custOrders: Map[Long, Seq[Long]] =
    orders.toSeq.groupBy(_._2._1).map { case (c, os) => c -> os.map(_._1).sorted }

  /** Customers that placed at least one order, ascending. */
  val activeCustomers: IndexedSeq[Long] = custOrders.keys.toIndexedSeq.sorted
}
