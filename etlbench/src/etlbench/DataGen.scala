package etlbench

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Writes the ten input tables the registry queries and the migration
  * read (`<dir>/<table>.parquet`), with the schemas and value ranges of
  * the project's TPC-H-like fixtures (FIXTURES.md): the star schema, an
  * `events` click stream, a `documents` corpus drawn from a 30-word
  * vocabulary with ~5% near-duplicates, and 64-d `embeddings` around ten
  * label centroids.
  *
  * Every value is a function of (row id, `seed`) only, so one
  * (scale, seed) pair always writes the same bytes' worth of rows and
  * every query result digest is reproducible. Row counts follow the
  * TPC-H ratios at scale `sf` (lineitem = 6M x sf); the corpus tables
  * are 50k x sf documents and 20k x sf vectors, at least 500 each.
  */
object DataGen {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  final case class Sizes(customer: Long, supplier: Long, part: Long,
                         orders: Long, lineitem: Long, events: Long,
                         documents: Int, embeddings: Int)

  def sizes(sf: Double): Sizes = {
    def n(base: Double, min: Long = 1L) = math.max(min, math.round(base * sf))
    Sizes(n(150000), n(10000), n(200000), n(1500000), n(6000000),
      n(1000000), n(50000, 500).toInt, n(20000, 500).toInt)
  }

  def rowCounts(sf: Double): Map[String, Long] = {
    val s = sizes(sf)
    Map("region" -> 5L, "nation" -> 25L, "customer" -> s.customer,
      "supplier" -> s.supplier, "part" -> s.part, "orders" -> s.orders,
      "lineitem" -> s.lineitem, "events" -> s.events,
      "documents" -> s.documents.toLong, "embeddings" -> s.embeddings.toLong)
  }

  private val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val s = sizes(sf)
    // uniform in [0, 1) from (id, salt): independent of partitioning
    def u(salt: Int): String =
      s"(pmod(xxhash64(id, ${seed * 1000 + salt}L), 1000003) / 1000003.0)"
    def pick(salt: Int, xs: Seq[String]): String =
      s"element_at(array(${xs.map(x => s"'$x'").mkString(",")}), " +
        s"cast(floor(${u(salt)} * ${xs.size}) as int) + 1)"
    def range(n: Long) = spark.range(0, n, 1, 4)
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
    def day(salt: Int, days: Int) =
      s"cast(timestamp_seconds(788918400L + cast(floor(${u(salt)} * $days) as bigint) * 86400L) as timestamp_ntz)"

    save("region", range(5).selectExpr("cast(id as int) r_regionkey",
      "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), cast(id as int) + 1) r_name"))
    save("nation", range(25).selectExpr("cast(id as int) n_nationkey",
      "concat('NATION_', id) n_name", "cast(id % 5 as int) n_regionkey"))
    save("customer", range(s.customer).selectExpr("id c_custkey",
      "concat('Customer#', lpad(cast(id as string), 9, '0')) c_name",
      s"cast(floor(${u(1)} * 25) as int) c_nationkey",
      s"round(-999.99 + ${u(2)} * 10999.8, 2) c_acctbal",
      s"${pick(3, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"))} c_mktsegment"))
    save("supplier", range(s.supplier).selectExpr("id s_suppkey",
      "concat('Supplier#', lpad(cast(id as string), 9, '0')) s_name",
      s"cast(floor(${u(4)} * 25) as int) s_nationkey",
      s"round(-999.99 + ${u(5)} * 10999.8, 2) s_acctbal"))
    save("part", range(s.part).selectExpr("id p_partkey",
      s"concat(${pick(6, Seq("large", "hot", "blue", "red", "small", "green"))}, ' ', " +
        s"${pick(7, Seq("ring", "bolt", "nut", "gear", "pipe"))}) p_name",
      s"concat('Brand#', cast(floor(${u(8)} * 25) as int) + 1) p_brand",
      s"${pick(9, Seq("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"))} p_type",
      s"cast(floor(${u(10)} * 50) as int) + 1 p_size",
      "round(900.0 + (id % 1000) / 10.0, 1) p_retailprice"))
    save("orders", range(s.orders).selectExpr("id o_orderkey",
      s"cast(floor(${u(11)} * ${s.customer}) as bigint) o_custkey",
      s"${pick(12, Seq("O", "F", "P"))} o_orderstatus",
      s"round(1000.0 + ${u(13)} * 499000.0, 2) o_totalprice",
      s"${day(14, 2404)} o_orderdate",
      s"${pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} o_orderpriority"))
    save("lineitem", range(s.lineitem).selectExpr(
      s"cast(floor(${u(16)} * ${s.orders}) as bigint) l_orderkey",
      s"cast(floor(${u(17)} * ${s.part}) as bigint) l_partkey",
      s"cast(floor(${u(18)} * ${s.supplier}) as bigint) l_suppkey",
      s"cast(floor(${u(19)} * 7) as int) + 1 l_linenumber",
      s"cast(floor(${u(20)} * 50) + 1 as double) l_quantity",
      s"round(900.0 + ${u(21)} * 104100.0, 2) l_extendedprice",
      s"round(floor(${u(22)} * 11) / 100.0, 2) l_discount",
      s"round(floor(${u(23)} * 9) / 100.0, 2) l_tax",
      s"${pick(24, Seq("A", "N", "R"))} l_returnflag",
      s"${pick(25, Seq("O", "F"))} l_linestatus",
      s"${day(26, 2498)} l_shipdate"))
    // ts rises with event_id (a click log), jittered within one slot
    val slot = 2592000.0 / s.events
    save("events", range(s.events).selectExpr("id event_id",
      s"cast(timestamp_micros(1704067200000000L + cast((id + ${u(27)}) * $slot * 1000000 as bigint)) as timestamp_ntz) ts",
      s"cast(floor(${u(28)} * 1500) as bigint) user_id",
      s"${pick(29, Seq("signup", "click", "error", "view", "purchase"))} event_type",
      s"round(-ln(1.0 - ${u(30)}) * 50.0, 2) value",
      s"concat('{\"k\": ', cast(floor(${u(31)} * 100) as int), '}') props"))

    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val langs = Seq("en", "en", "en", "en", "en", "en", "en", "en",
      "zh", "zh", "zh", "de", "de", "de", "es", "es", "es", "fr", "fr", "fr")
    val texts = new Array[String](s.documents)
    val docs = (0 until s.documents).map { i =>
      val text =
        if (i > 20 && rnd.nextInt(20) == 0) texts(rnd.nextInt(i)) + " dup"
        else Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
      texts(i) = text
      (i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }
    save("documents", docs.toDF("doc_id", "text", "lang", "source", "n_chars"))
    val centroids = Array.fill(10, 64)(rnd.nextGaussian() * 0.08)
    val vecs = (0 until s.embeddings).map { i =>
      val label = rnd.nextInt(10)
      (i.toLong, Array.tabulate(64)(d =>
        (centroids(label)(d) + rnd.nextGaussian() * 0.1).toFloat), label)
    }
    save("embeddings", vecs.toDF("vec_id", "embedding", "label"))
  }

  /** Total bytes of the files under `path` (a table dir or a tree). */
  def bytesUnder(path: java.io.File): Long =
    if (path.isFile) path.length
    else Option(path.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
}
