package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The shared ledgered two-table delete ([[BucketedStore.deleteBoth]])
  * under a write fault: a family delete whose first rewrite fails after
  * the ledger record and the second table's drop rethrows, leaves the
  * family reading as absent, and the next buildOrLoad restores every
  * table to the row counts of a fresh build.
  */
class BucketedStoreSpec extends SparkSpec {
  import spark.implicits._

  private val texts = (1L to 12L).map(i =>
    (i, (1 to 12).map(j => s"fw${i}x$j").mkString(" ") + " shared words here"))

  /** One family as the fault sees it: its stored tables (the table the
    * skeleton rewrites first at index 0, the ledger last), its `exists`
    * gate, a build from the standing docs, and its delete verb.
    */
  private case class Family(name: String, tables: String => Seq[String],
                            exists: String => Boolean,
                            build: String => Unit,
                            delete: (DataFrame, String) => Unit)

  private val families = Seq(
    Family("band index", BandIndex.tables, BandIndex.exists(spark, _),
      t => BandIndex.buildOrLoad(spark, texts.toDF("doc_id", "text"), t),
      (ids, t) => BandIndex.delete(spark, ids, t)),
    Family("image signatures", MediaSigStore.tables,
      MediaSigStore.exists(spark, _),
      t => MediaSigStore.buildOrLoad(spark, texts.map(_._1).toDF("doc_id"),
        t, ImageDedup.dhashSigs),
      (ids, t) => MediaSigStore.delete(spark, ids, t)),
    Family("containment index", ContainIndex.tables,
      ContainIndex.exists(spark, _),
      t => ContainIndex.buildOrLoad(spark, texts.toDF("doc_id", "text"), t),
      (ids, t) => ContainIndex.delete(spark, ids, t)))

  private def counts(tables: Seq[String]): Seq[Long] =
    tables.map(spark.table(_).count())

  for (f <- families) test(s"${f.name}: a write fault inside delete " +
      "rethrows, reads as absent, and the next buildOrLoad restores a " +
      "fresh build") {
    val tag = "graft_test_bsfault_" + System.nanoTime()
    val fresh = tag + "_fresh"
    f.build(fresh)
    f.build(tag)
    val tables = f.tables(tag)
    assert(counts(tables) == counts(f.tables(fresh)))
    val protocolKey = "spark.sql.sources.commitProtocolClass"
    val protocolBefore = spark.conf.getOption(protocolKey)
    spark.conf.set(protocolKey, classOf[FailingCommitProtocol].getName)
    FailingCommitProtocol.armed.set(tables.head)
    try {
      val e = intercept[Exception](f.delete(Seq(2L, 3L).toDF("doc_id"), tag))
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
    // the fault landed after the ledger record and the second table's
    // drop: the ledger holds the deleted docs' keys, the gate is broken
    assert(spark.table(tables.last).count() > 0L)
    assert(!spark.catalog.tableExists(tables(1)))
    assert(!f.exists(tag))
    f.build(tag)
    assert(f.exists(tag))
    assert(counts(tables) == counts(f.tables(fresh)))
  }
}

/** A file commit protocol whose first task writing into the armed
  * table's location throws.
  */
class FailingCommitProtocol(jobId: String, path: String, dpo: Boolean)
    extends org.apache.spark.sql.execution.datasources
      .SQLHadoopMapReduceCommitProtocol(jobId, path, dpo) {
  override def setupTask(ctx: org.apache.hadoop.mapreduce.TaskAttemptContext)
      : Unit = {
    // compareAndSet compares references: swap out the armed instance
    val armed = FailingCommitProtocol.armed.get
    if (new org.apache.hadoop.fs.Path(path).getName == armed &&
      FailingCommitProtocol.armed.compareAndSet(armed, ""))
      throw new IllegalStateException(FailingCommitProtocol.Fault)
    super.setupTask(ctx)
  }
}

object FailingCommitProtocol {
  val Fault = "injected write fault"
  private[ops] val armed = new java.util.concurrent.atomic.AtomicReference("")
}
