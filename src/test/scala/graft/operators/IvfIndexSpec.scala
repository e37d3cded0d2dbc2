package graft.operators

import graft.flow.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class IvfIndexSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("IVF index: full-probe equals brute force; partial probe has good recall") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val probe = e.filter($"vec_id" === 0).select("embedding")
      .as[Array[Float]].head()
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding", probe, 10)
      .as[(Long, Double)].collect().map(_._1)

    val idx = IvfIndex.build(e, "vec_id", "embedding", nlist = 8)
    // probing ALL lists must reproduce brute force exactly
    val full = idx.topK(probe, 10, nprobe = 8).as[(Long, Double)].collect().map(_._1)
    assert(full.toSeq == exact.toSeq)
    // probing half the lists keeps decent recall on the fixture
    val half = idx.topK(probe, 10, nprobe = 4).as[(Long, Double)].collect().map(_._1).toSet
    val recall = (exact.toSet intersect half).size.toDouble / exact.length
    assert(recall >= 0.5, s"recall=$recall")
    idx.assigned.unpersist()
  }

  test("a saved index loads with identical topK and its probes prune " +
    "to the selected list partitions") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val probe = e.filter($"vec_id" === 0).select("embedding")
      .as[Array[Float]].head()
    val built = IvfIndex.build(e, "vec_id", "embedding", nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/idx"
    built.save(dir)
    val loaded = IvfIndex.load(spark, dir)

    val a = built.topK(probe, 10, nprobe = 3).as[(Long, Double)].collect().toSeq
    val b = loaded.topK(probe, 10, nprobe = 3).as[(Long, Double)].collect().toSeq
    assert(a == b, s"built=$a loaded=$b")

    // the on-disk layout is hive-partitioned on list_id, and the probe's
    // list filter reaches the scan as a PARTITION filter (file pruning —
    // the read-side point of IVF at 100 TB)
    assert(new java.io.File(s"$dir/data/list_id=0").exists())
    val q = loaded.topK(probe, 10, nprobe = 3)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.contains("list_id"), plan.linesIterator
        .filter(_.contains("PartitionFilters")).mkString("\n"))
    built.assigned.unpersist()
  }

  test("append: new vectors assign to existing lists, only touched " +
    "partitions swap, full-probe topK equals brute force over the grown " +
    "corpus, and probes still prune") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val base = e.filter($"vec_id" % 5 =!= 0)
    val extra = e.filter($"vec_id" % 5 === 0 && $"vec_id" =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString + "/idx"
    val built = IvfIndex.build(base, "vec_id", "embedding", nlist = 8)
    built.save(dir)
    built.assigned.unpersist()

    val stats = IvfIndex.append(spark, dir, extra)
    assert(stats.values.map(_.rows).sum == extra.count())

    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.assigned.count() == base.count() + extra.count())

    // query with an APPENDED vector: at nprobe = nlist the probe is
    // exhaustive, so the result must equal brute force over the grown
    // corpus — the append-vs-rebuild equivalence in its exact form
    val probeId = extra.select("vec_id").as[Long].head()
    val probe = extra.filter($"vec_id" === probeId)
      .select("embedding").as[Array[Float]].head()
    val grown = base.unionByName(extra)
    val exact = Similarity.bruteForceTopK(grown, "vec_id", "embedding", probe, 10)
      .as[(Long, Double)].collect().map(_._1)
    val full = loaded.topK(probe, 10, nprobe = 8)
      .as[(Long, Double)].collect().map(_._1)
    assert(full.toSeq == exact.toSeq, s"full=$full exact=$exact")
    // the appended vector finds itself at a pruned probe, and pruning
    // still reaches the scan as a partition filter
    val q = loaded.topK(probe, 10, nprobe = 2)
    val pruned = q.as[(Long, Double)].collect()
    assert(pruned.head._1 == probeId && pruned.head._2 == 1.0, pruned.head)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("list_id"),
      plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
  }

  test("append drift gate: rows far from every centroid fail loudly " +
    "before the store is touched") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_drift").toString + "/idx"
    val built = IvfIndex.build(e.filter($"vec_id" < 400), "vec_id", "embedding", nlist = 4)
    built.save(dir)
    built.assigned.unpersist()
    val before = IvfIndex.load(spark, dir).assigned.count()
    val drifters = e.filter($"vec_id" >= 400)
    assert(drifters.count() == 100) // fixture holds vec_id 0..499
    val ex = intercept[IllegalStateException] {
      IvfIndex.append(spark, dir, drifters,
        maxDriftRatio = 1e-9, minRowsForDrift = 1)
    }
    assert(ex.getMessage.contains("drift"), ex.getMessage)
    assert(IvfIndex.load(spark, dir).assigned.count() == before, "store touched")
    // with the default (sane) ratio the same rows append fine
    val stats = IvfIndex.append(spark, dir, drifters, maxDriftRatio = 1e9)
    assert(stats.values.map(_.rows).sum == 100)
    assert(IvfIndex.load(spark, dir).assigned.count() == before + 100)
  }

  test("IVF assignment is complete and deterministic under a seed") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val a1 = IvfIndex.build(e, "vec_id", "embedding", nlist = 4)
    val a2 = IvfIndex.build(e, "vec_id", "embedding", nlist = 4)
    assert(a1.assigned.count() == e.count())
    val m1 = a1.assigned.select("vec_id", "list_id").as[(Long, Int)].collect().toMap
    val m2 = a2.assigned.select("vec_id", "list_id").as[(Long, Int)].collect().toMap
    assert(m1 == m2)
    a1.assigned.unpersist(); a2.assigned.unpersist()
  }
}
