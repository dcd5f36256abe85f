package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The ledger-first crash order ([[BucketedStore]]) under a write fault
  * in `append`: the first insert, which runs after the ledger record,
  * fails. The ledger then holds the batch's keys, and `relevel` leaves
  * the stored level (bsz / df) equal to a fresh build over the rows the
  * store actually holds — the standing docs. A fault in the band index's
  * SECOND insert drops the band table, so the next build self-heals.
  */
class LedgerFirstFaultSpec extends SparkSpec {
  import spark.implicits._

  private val standing = (1L to 12L).map(i =>
    (i, (1 to 12).map(j => s"fw${i}x$j").mkString(" ") + " shared words here"))
    .toDF("doc_id", "text")
  // shares words (and so keys) with the standing docs
  private val batch = (13L to 15L).map(i =>
    (i, s"fw1x1 fw2x2 fw${i}x3 shared words here")).toDF("doc_id", "text")

  /** One family as the fault sees it: its stored tables (the table
    * `append` inserts into first at index 0, the ledger last), build,
    * append and relevel verbs, the ledger keys a batch records, and the
    * stored level rows.
    */
  private case class Family(name: String, tables: String => Seq[String],
                            build: (DataFrame, String) => Unit,
                            append: (DataFrame, String) => Unit,
                            relevel: String => Unit,
                            keys: DataFrame => DataFrame,
                            levelled: String => DataFrame)

  private val families = Seq(
    Family("band index", BandIndex.tables,
      (d, t) => BandIndex.buildOrLoad(spark, d, t),
      (d, t) => BandIndex.append(spark, d, t),
      t => BandIndex.relevel(spark, t),
      d => DedupQueries.bandsFromShingles(DedupQueries.shingleRows(d))
        .select($"band".cast("int"), $"bh"),
      t => spark.table(s"${t}_bands").select("doc_id", "band", "bh", "bsz")),
    Family("lexical index", LexIndex.tables,
      (d, t) => LexIndex.buildOrLoad(spark, d, t),
      (d, t) => LexIndex.append(spark, d, t),
      t => LexIndex.relevel(spark, t),
      d => LexIndex.postingRows(d).select("term"),
      t => spark.table(LexIndex.postings(t).name)
        .select("term", "doc_id", "tf", "dl", "df")))

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  for (f <- families) test(s"${f.name}: a fault in append's first insert " +
      "leaves the batch keys in the ledger, and relevel levels the stored " +
      "rows exactly") {
    val tag = "graft_test_lfault_" + System.nanoTime()
    val fresh = tag + "_fresh"
    f.build(standing, fresh)
    f.build(standing, tag)
    val tables = f.tables(tag)
    val protocolKey = "spark.sql.sources.commitProtocolClass"
    val protocolBefore = spark.conf.getOption(protocolKey)
    spark.conf.set(protocolKey, classOf[FailingCommitProtocol].getName)
    FailingCommitProtocol.armed.set(tables.head)
    try {
      val e = intercept[Exception](f.append(batch, tag))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage)
          .contains(FailingCommitProtocol.Fault)), e.toString)
    } finally {
      FailingCommitProtocol.armed.set("")
      protocolBefore match {
        case Some(v) => spark.conf.set(protocolKey, v)
        case None => spark.conf.unset(protocolKey)
      }
    }
    val ledger = spark.table(tables.last)
    assert(sorted(ledger.distinct()) == sorted(f.keys(batch).distinct()))
    assert(ledger.count() > 0L)
    f.relevel(tag)
    assert(sorted(f.levelled(tag)) == sorted(f.levelled(fresh)))
    assert(spark.table(tables.last).count() == 0L,
      "relevel must reset the ledger")
  }

  /** Runs `f` with a write fault armed on `table`; returns what it threw. */
  private def faultOn(table: String)(f: => Unit): Throwable = {
    val protocolKey = "spark.sql.sources.commitProtocolClass"
    val protocolBefore = spark.conf.getOption(protocolKey)
    spark.conf.set(protocolKey, classOf[FailingCommitProtocol].getName)
    FailingCommitProtocol.armed.set(table)
    try intercept[Exception](f)
    finally {
      FailingCommitProtocol.armed.set("")
      protocolBefore match {
        case Some(v) => spark.conf.set(protocolKey, v)
        case None => spark.conf.unset(protocolKey)
      }
    }
  }

  test("band index: a fault in append's band insert, after the shingle " +
    "insert landed, drops the band table; buildOrLoad then rebuilds the " +
    "bands a fresh build stores") {
    val tag = "graft_test_lfault_" + System.nanoTime()
    val fresh = tag + "_fresh"
    val all = standing.union(batch)
    BandIndex.buildOrLoad(spark, all, fresh)
    BandIndex.buildOrLoad(spark, standing, tag)
    val e = faultOn(s"${tag}_bands")(BandIndex.append(spark, batch, tag))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage)
        .contains(FailingCommitProtocol.Fault)), e.toString)
    assert(!BandIndex.exists(spark, tag),
      "a half-written index must not read as existing")
    BandIndex.buildOrLoad(spark, all, tag)
    for (t <- Seq("shingles", "bands"))
      assert(sorted(spark.table(s"${tag}_$t")) ==
        sorted(spark.table(s"${fresh}_$t")), t)
  }
}
