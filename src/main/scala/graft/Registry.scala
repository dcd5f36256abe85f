package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** One declared operator query: the driver contract pairs a Spark
  * DataFrame program with a DuckDB-runnable ANSI-SQL twin over the same
  * parquet tables (SURVEY.md §2 "query name" column).
  *
  * Determinism contract (SURVEY.md §7): every query has an explicit
  * ORDER BY with a unique tiebreaker; floating aggregates are computed as
  * exact DECIMAL sums cast to DOUBLE (order-independent), ratios as a
  * single IEEE double division of exact operands; timestamps compared at
  * epoch-second granularity (events.ts is ns, Spark truncates to us).
  */
final case class QueryDef(
    name: String,
    doc: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Central registry: every operator module contributes its QueryDefs. */
object Registry {
  lazy val all: Seq[QueryDef] =
    queries.CoreQueries.defs ++
      queries.ProfileQueries.defs ++
      ops.DedupQueries.defs ++
      ops.SpanDedup.defs ++
      ops.SimilarityQueries.defs ++
      ops.TextQueries.defs ++
      ops.EventQueries.defs ++
      ops.AsOfJoin.defs ++
      ops.JoinQueries.defs ++
      ops.SampleQueries.defs ++
      ops.PackingQueries.defs ++
      ops.MultimodalQueries.defs ++
      ops.ImageDedup.defs ++
      ops.AudioDedup.defs ++
      ops.VideoDedup.defs ++
      ops.CorpusQueries.defs ++
      ops.GovernanceQueries.defs ++
      ops.SelectionQueries.defs ++
      ops.BpeQueries.defs ++
      ops.GraphQueries.defs

  lazy val queryMap: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  lazy val oracleMap: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}

/** Shared table access for declared queries. */
object Tables {

  /** Construction-time memo of the normalized base-table DataFrame per
    * (session, path, file signature) — r19 (§6 file listing / r18
    * verdict "Next round" #9, the dispatch-floor experiment): every
    * query construction re-ran `spark.read.parquet` on its tables,
    * which re-lists the directory and re-reads parquet footers for
    * schema inference ON THE DRIVER — ~10-20 ms per table per query,
    * a pure fixed cost across the 171-query surface (and at 100 TB,
    * re-listing a large table per query is exactly the driver-side
    * cost the guide's file-listing cache exists for; Spark's own
    * catalog tables memoize their resolved LogicalRelation the same
    * way). The memo holds the LAZY normalized plan only — every action
    * still computes from the parquet files, so no data or results are
    * cached — and the key carries each file's (name, size, mtime), so
    * a rewritten table (spec temp dirs, streaming fixtures) misses the
    * memo and re-resolves instead of serving a stale file index.
    */
  private val tableMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (String, DataFrame)]

  private def fileSignature(spark: SparkSession, path: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(p).map(s =>
          s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted.mkString(",")
    } catch { case NonFatal(_) => s"unreadable:${System.nanoTime()}" }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS) which Spark has no native type
    // for; read it as Long nanos and convert explicitly where needed.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The ts normalization below casts TIMESTAMP_NTZ through TimestampType,
    // which interprets wall time in the SESSION timezone — pin it UTC here,
    // at the scan, so every entry point (Bench included) shares the
    // invariant regardless of host tz.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val path = s"$dir/$name.parquet"
    val sig = fileSignature(spark, path)
    tableMemo.get((spark, path)) match {
      case Some((s0, df)) if s0 == sig => df
      case _ =>
        val df = resolve(spark, path)
        tableMemo.put((spark, path), (sig, df))
        df
    }
  }

  private def resolve(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    // The round-9 testdata regeneration writes events.ts as parquet
    // timestamp[us] (read as TIMESTAMP_NTZ) where earlier vintages wrote
    // TIMESTAMP(NANOS) (read as Long via nanosAsLong). Normalize to the
    // Long-nanos internal convention AT THE SCAN so every downstream
    // consumer — nanosToEpochSec, the as-of ns keys, the streaming
    // twins — and the epoch_ns()-based DuckDB oracles see one type
    // across data vintages. Session tz is pinned UTC, so the NTZ wall
    // time is the UTC instant.
    df.schema.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.TimestampNTZType ||
          f.dataType == org.apache.spark.sql.types.TimestampType =>
        import org.apache.spark.sql.functions.{col, unix_micros, lit}
        df.withColumn("ts",
          unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
            * lit(1000L))
      case _ => df
    }
  }

  /** Fan-out guard for compute-heavy narrow transforms (minhash scans, dot
    * products, shingling): the bench parquet files are single-row-group, so
    * the scan leg is ONE task no matter how many cores the session has —
    * repartition to the scheduler's parallelism when (and only when) the
    * source splits provide less. At 100 TB the source arrives as thousands
    * of splits, the guard no-ops, and no shuffle is added; locally it turns
    * a serial md5/dot-product scan into a 32-way one for a sub-ms shuffle
    * of kilobyte rows.
    */
  /** Lead columns the fan-out guard may hash-key on (r19, r18 ADVICE
    * #1): the keyed repartition below relies on the table's FIRST
    * column being high-cardinality and non-null — true for every
    * shipped table that goes through [[par]] (documents.doc_id and
    * embeddings.vec_id are unique; lineitem.l_orderkey has ~4 rows per
    * key). A table whose lead column is low-cardinality (nation/region
    * style) would silently collapse to fewer than `target` partitions
    * — worse than the round-robin it replaced — so an UNKNOWN lead
    * column fails loudly here and must be added with a cardinality
    * argument (or the caller keys explicitly).
    */
  private val parFanoutKeys = Set(
    "doc_id", "vec_id", "event_id", "l_orderkey",
    // l_partkey: ~30 lineitem rows per part — spec fixtures plant
    // lineitem slices leading with it (ProfileDiagnosticsSpec)
    "l_partkey",
    "c_custkey", "o_orderkey", "p_partkey", "s_suppkey")

  def par(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    // Estimate the scan's split count from file metadata only — no
    // df.rdd (which would force full physical planning plus a discarded
    // row-conversion RDD at query-construction time, inside the timed
    // bench region). splits >= one per file, plus size/maxPartitionBytes
    // for splittable parquet.
    val hconf = spark.sessionState.newHadoopConf()
    val maxSplit = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val files = df.inputFiles
    val bytes = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(hconf).getFileStatus(p).getLen
    }.sum
    val estSplits = math.max(files.length.toLong, (bytes + maxSplit - 1) / maxSplit)
    if (estSplits < target) {
      // r18 (§2.5): keyless repartition(n) pays a per-map-task LOCAL
      // SORT of the whole input (spark.sql.execution.sortBeforeRepartition,
      // kept ON for retry determinism) — and the guard fires exactly
      // when the scan is ONE task, so the sort was single-threaded over
      // the entire table before any fan-out. Hash-repartition on a
      // deterministic key instead (the guide's deterministic-synthetic-
      // key rule): no sort, retry-stable by construction. The key is
      // xxhash64 of the table's FIRST column — every shipped table
      // leads with its high-cardinality id (doc_id, vec_id, l_orderkey,
      // …), so the hash spreads ≫ target ways, and hashing one column
      // costs at most one extra column in the scan where a full-row
      // hash would defeat column pruning entirely (§6: ReadSchema must
      // stay the consumer's). Consumers are distribution-agnostic (the
      // guard exists only to widen narrow compute-heavy scans).
      // the check lives INSIDE the guard: a table that already arrives
      // in >= target splits (the 100 TB case) never repartitions and
      // needs no key vetting
      require(parFanoutKeys.contains(df.columns.head),
        s"Tables.par: lead column '${df.columns.head}' of table '$name' " +
          "is not a known high-cardinality fan-out key; add it to " +
          "parFanoutKeys (with a cardinality argument) or key explicitly")
      import org.apache.spark.sql.functions.xxhash64
      df.repartition(target, xxhash64(
        org.apache.spark.sql.functions.col(df.columns.head)))
    } else df
  }

  /** events.ts (Long nanoseconds since epoch) -> epoch seconds, computed
    * exactly via decimal division (double division could round near second
    * boundaries at 1e18-nanosecond magnitudes).
    */
  def nanosToEpochSec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{floor, lit}
    import org.apache.spark.sql.types.DecimalType
    floor(c.cast(DecimalType(38, 0)) / lit(1000000000L)).cast("long")
  }
}
