package graft.operators

import graft.flow.SparkTestSession
import org.apache.spark.graft.JobTrace
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The one IVF core under both index families: the coarse quantizer is a
  * function of the data alone (not of the input's partitioning), flat IVF
  * and IVF-PQ fit the same one, and an append assigns its rows in one
  * narrow projection. */
class IvfCoreSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // AnnAdaptiveSpec's isotropic corpus: the case with the least structure,
  // where a sampling-dependent fit would move the most
  private val n = 400
  private val dim = 32

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def unit(seed: Long): Array[Double] = {
    val v = Array.tabulate(dim)(j => mix(seed * 8191L + j).toDouble / Long.MaxValue)
    val nn = math.sqrt(v.map(x => x * x).sum).max(1e-12)
    v.map(_ / nn)
  }

  private lazy val isotropic: DataFrame =
    (0 until n).map(i => (i.toLong, unit(0x15031701L + i).map(_.toFloat)))
      .toDF("vec_id", "embedding").persist()

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Everything the coarse quantizer decides, as exact bits. */
  private final case class Fit(
      centroids: Seq[(Int, Seq[Long])], r2: Long, nprobe: Int, lists: Map[Long, Int])

  private def fit(
      cents: Array[(Int, Array[Double])], r2: Double, nprobe: Int, rows: DataFrame): Fit =
    Fit(cents.map { case (i, c) => (i, c.map(bits).toSeq) }.toSeq, bits(r2), nprobe,
      rows.select("vec_id", "list_id").as[(Long, Int)].collect().toMap)

  private def assertPartitionFree(fits: Seq[(Int, Fit)]): Unit = {
    val (_, one) = fits.head
    fits.tail.foreach { case (p, f) =>
      assert(f.centroids == one.centroids, s"centroids differ at $p partitions")
      assert(f.r2 == one.r2, s"cluster R² bits differ at $p partitions: " +
        s"${java.lang.Double.longBitsToDouble(f.r2)} vs ${java.lang.Double.longBitsToDouble(one.r2)}")
      assert(f.nprobe == one.nprobe, s"autoNprobe differs at $p partitions")
      assert(f.lists == one.lists, s"list ids differ at $p partitions")
    }
  }

  test("IvfIndex: centroids, cluster R², autoNprobe and every list id are " +
    "bit-identical whether the input has 1, 3 or 8 partitions") {
    assertPartitionFree(Seq(1, 3, 8).map { p =>
      val idx = IvfIndex.build(isotropic.repartition(p), "vec_id", "embedding", nlist = 8)
      try p -> fit(idx.centroids, idx.clusterR2, idx.autoNprobe, idx.assigned)
      finally idx.assigned.unpersist()
    })
  }

  test("IvfPqIndex: centroids, cluster R², autoNprobe and every list id are " +
    "bit-identical whether the input has 1, 3 or 8 partitions") {
    val base = graft.GraftQuery.tempDir("graft_ivf_parts")
    try assertPartitionFree(Seq(1, 3, 8).map { p =>
      val idx = IvfPqIndex.buildAndSave(isotropic.repartition(p), s"$base/p$p",
        "vec_id", "embedding", nlist = 8, m = 8, ksub = 32)
      p -> fit(idx.coarse, idx.clusterR2, idx.autoNprobe, idx.codes)
    })
    finally graft.GraftQuery.deleteRecursively(new java.io.File(base))
  }

  test("flat IVF and IVF-PQ fit the same coarse quantizer on the same input " +
    "and seed") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = graft.GraftQuery.tempDir("graft_ivf_same")
    val ivf = IvfIndex.build(e, "vec_id", "embedding", nlist = 8)
    try {
      val pq = IvfPqIndex.buildAndSave(e, s"$base/idx", "vec_id", "embedding",
        nlist = 8, m = 8, ksub = 32)
      assert(ivf.centroids.map { case (i, c) => (i, c.map(bits).toSeq) }.toSeq ==
        pq.coarse.map { case (i, c) => (i, c.map(bits).toSeq) }.toSeq)
      assert(bits(ivf.clusterR2) == bits(pq.clusterR2),
        s"flat R²=${ivf.clusterR2} vs PQ R²=${pq.clusterR2}")
    } finally {
      ivf.assigned.unpersist()
      graft.GraftQuery.deleteRecursively(new java.io.File(base))
    }
  }

  /** Every physical plan `body` executes, and its job count. */
  private def plansOf[T](body: => T): (T, Seq[String], Int) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // JobTrace drains the listener bus, so every plan has arrived
    val (out, counts) = try JobTrace(spark.sparkContext)(body)
      finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    (out, plans.asScala.toSeq, counts.jobs)
  }

  /** An append's plans join nothing, and their one exchange is the
    * per-list stats aggregate's: new rows are assigned narrowly. */
  private def assertNarrowAppend(plans: Seq[String]): Unit = {
    assert(plans.nonEmpty)
    plans.foreach { p =>
      assert(!p.contains("Join"), p)
      val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exchanges.forall(_.contains("hashpartitioning(list_id")), p)
    }
  }

  test("both families' append assigns with no join and no exchange below " +
    "the per-list stats aggregate") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = graft.GraftQuery.tempDir("graft_ivf_append_plan")
    try {
      val built = IvfIndex.build(e.filter($"vec_id" % 5 =!= 0), "vec_id", "embedding",
        nlist = 8)
      built.save(s"$base/ivf")
      built.assigned.unpersist()
      val extra = e.filter($"vec_id" % 5 === 0)
      val (ivfStats, ivfPlans, ivfJobs) = plansOf(IvfIndex.append(spark, s"$base/ivf", extra))
      assert(ivfStats.values.map(_.rows).sum == 100)
      assertNarrowAppend(ivfPlans)

      IvfPqIndex.buildAndSave(e.filter($"vec_id" % 5 =!= 0), s"$base/pq",
        "vec_id", "embedding", nlist = 8, m = 8, ksub = 16)
      val (pqStats, pqPlans, pqJobs) =
        plansOf(IvfPqIndex.append(spark, s"$base/pq", extra, maxDriftRatio = 100.0))
      assert(pqStats.values.map(_.rows).sum == 100)
      assertNarrowAppend(pqPlans)
      info(s"Spark jobs per append: IvfIndex $ivfJobs, IvfPqIndex $pqJobs")
    } finally graft.GraftQuery.deleteRecursively(new java.io.File(base))
  }
}
