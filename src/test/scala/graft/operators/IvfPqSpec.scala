package graft.operators

import graft.flow.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfPqSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def tmpDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Deterministic synthetic corpus: n 64-dim vectors clustered around
    * `k` directions (so IVF lists are meaningful), seeded — no
    * Math.random, reruns identical. */
  private def corpus(n: Int, seed: Int = 7): DataFrame = {
    (0 until n).map { i =>
      val rnd = new scala.util.Random(seed * 100003 + i)
      val dir = i % 4
      val v = Array.tabulate(64) { j =>
        val base = if (j % 4 == dir) 1.0f else 0.1f
        base + (rnd.nextFloat() - 0.5f) * 0.4f
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  test("recall@10 >= 0.9 vs exact scan at a pinned seed, and the ADC " +
    "pool + exact re-rank returns exact similarities") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val probe = e.filter($"vec_id" === 0).select("embedding")
      .as[Array[Float]].head()
    val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding", probe, 10)
      .as[(Long, Double)].collect()

    // uniform-random embeddings are PQ's hard case (similarities pack
    // into a narrow band, so coarse-score ordering is noisy): recall
    // comes from the pool dial, exactly as documented — poolK covers the
    // band, the exact re-rank does the rest
    val dir = tmpDir("graft_pq") + "/idx"
    val idx = IvfPqIndex.buildAndSave(e, dir, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 32, seed = 42L)
    val got = idx.topK(e, probe, 10, nprobe = 8, poolK = 150)
      .as[(Long, Double)].collect()
    val recall = (exact.map(_._1).toSet intersect got.map(_._1).toSet).size / 10.0
    assert(recall >= 0.9, s"recall=$recall got=${got.toSeq} exact=${exact.toSeq}")
    // similarities of shared ids are EXACT (re-rank reads full precision)
    val exactSim = exact.toMap
    got.filter(g => exactSim.contains(g._1)).foreach { case (id, sim) =>
      assert(math.abs(sim - exactSim(id)) < 1e-9, s"id=$id $sim vs ${exactSim(id)}")
    }
  }

  test("codebooks and codes are deterministic across input partitionings") {
    val data = corpus(600)
    val d1 = tmpDir("graft_pq_det1") + "/idx"
    val d2 = tmpDir("graft_pq_det2") + "/idx"
    val a = IvfPqIndex.buildAndSave(data.repartition(13), d1,
      "vec_id", "embedding", nlist = 4, m = 8, ksub = 16, seed = 5L)
    val b = IvfPqIndex.buildAndSave(data.repartition(2).sortWithinPartitions(desc("vec_id")),
      d2, "vec_id", "embedding", nlist = 4, m = 8, ksub = 16, seed = 5L)
    assert(a.codebooks.length == b.codebooks.length)
    a.codebooks.zip(b.codebooks).foreach { case (ba, bb) =>
      assert(ba.length == bb.length)
      ba.zip(bb).foreach { case (ca, cb) => assert(ca.toSeq == cb.toSeq) }
    }
    assert(a.coarse.map { case (i, c) => (i, c.toSeq) }.toSeq ==
      b.coarse.map { case (i, c) => (i, c.toSeq) }.toSeq)
    val codesA = a.codes.select($"vec_id", $"pq_code").as[(Long, Seq[Int])]
      .collect().sortBy(_._1).toSeq
    val codesB = b.codes.select($"vec_id", $"pq_code").as[(Long, Seq[Int])]
      .collect().sortBy(_._1).toSeq
    assert(codesA == codesB)
  }

  test("compression: the PQ data dir is <= 1/16 the bytes of the float32 " +
    "vectors it indexes") {
    val data = corpus(4000)
    val base = tmpDir("graft_pq_bytes")
    data.coalesce(4).write.parquet(s"$base/floats")
    IvfPqIndex.buildAndSave(data, s"$base/idx", "vec_id", "embedding",
      nlist = 4, m = 8, ksub = 16, seed = 11L)
    def bytesUnder(p: String): Long = {
      val d = new java.io.File(p)
      d.listFiles().flatMap {
        case f if f.isDirectory => f.listFiles()
        case f => Array(f)
      }.filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum
    }
    val floatBytes = bytesUnder(s"$base/floats")
    val codeBytes = bytesUnder(s"$base/idx/data")
    assert(codeBytes * 16 <= floatBytes,
      s"codes=$codeBytes floats=$floatBytes ratio=${codeBytes.toDouble / floatBytes}")
  }

  test("probes prune to the selected list partitions on the loaded index") {
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val probe = e.filter($"vec_id" === 0).select("embedding")
      .as[Array[Float]].head()
    val dir = tmpDir("graft_pq_prune") + "/idx"
    val idx = IvfPqIndex.buildAndSave(e, dir, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16)
    assert(new java.io.File(s"$dir/data/list_id=0").exists())
    val q = idx.topK(e, probe, 5, nprobe = 2, poolK = 20)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("list_id"),
      plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
  }

  test("pq encode expression matches a reference argmin, breaks ties " +
    "toward the lower code, and surfaces ragged/null inputs as NULL") {
    // m=2 subspaces, ksub=3, dsub=2; subspace 0 has two centroids
    // equidistant from (0,0) — the tie must resolve to the LOWER code
    val books: Array[Array[Array[Double]]] = Array(
      Array(Array(1.0, 0.0), Array(-1.0, 0.0), Array(5.0, 5.0)),
      Array(Array(0.0, 0.0), Array(2.0, 2.0), Array(-3.0, 1.0)))
    val rows = Seq(
      (1L, Seq(0.0, 0.0, 2.1, 1.9)), // sub0 tie (codes 0,1) → 0; sub1 → 1
      (2L, Seq(4.0, 4.9, -2.0, 1.0)), // sub0 → 2; sub1 → 2
      (3L, Seq(1.0, 0.0))) // ragged → NULL
    val df = rows.toDF("id", "v")
      .withColumn("v", $"v".cast("array<double>"))
    val got = df.select($"id",
      org.apache.spark.sql.graft.PqEncodeExpr.pqEncode($"v", books).as("c"))
      .as[(Long, Option[Seq[Int]])].collect().toMap
    assert(got(1L).contains(Seq(0, 1)))
    assert(got(2L).contains(Seq(2, 2)))
    assert(got(3L).isEmpty)
    val withNull = Seq((4L, Seq[java.lang.Double](1.0, null, 0.0, 0.0)))
      .toDF("id", "v")
    val gotNull = withNull.select(
      org.apache.spark.sql.graft.PqEncodeExpr.pqEncode($"v", books).as("c"))
      .as[Option[Seq[Int]]].head()
    assert(gotNull.isEmpty)
  }

  test("encode is a single narrow projection — no exchange, no join") {
    val books: Array[Array[Array[Double]]] =
      Array.tabulate(8)(s => Array.tabulate(4)(c =>
        Array.tabulate(8)(j => (s + c + j).toDouble / 10)))
    // parquet-backed input with the source column PRE-computed: a purely
    // local relation would be folded by ConvertToLocalRelation, and the
    // nvec normalization's higher-order functions are codegen-fallback —
    // this isolates the encode projection itself, which must stay both
    // narrow and inside whole-stage codegen
    val src = tmpDir("graft_pq_narrow") + "/src"
    corpus(200)
      .withColumn("graft_src", IvfIndex.nvecExpr("embedding"))
      .withColumn("list_id", lit(0))
      .write.parquet(src)
    val assigned = spark.read.parquet(src)
    val codes = IvfPqIndex.encode(assigned, "vec_id", books)
    codes.collect()
    val plan = codes.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
    // the `*(n)` prefix marks a whole-stage-codegen'd operator in the
    // compact plan string — the encode projection must carry it
    assert(plan.linesIterator.exists(l =>
      l.contains("Project") && l.trim.startsWith("*(")), plan)
  }

  test("residual flag round-trips; residual=false reproduces the " +
    "vector-coded path; a legacy store without the flag loads vector-coded") {
    val data = corpus(400)
    val dirR = tmpDir("graft_pq_res") + "/idx"
    val dirV = tmpDir("graft_pq_vec") + "/idx"
    val r = IvfPqIndex.buildAndSave(data, dirR, "vec_id", "embedding",
      nlist = 4, m = 8, ksub = 16, seed = 5L)
    val v = IvfPqIndex.buildAndSave(data, dirV, "vec_id", "embedding",
      nlist = 4, m = 8, ksub = 16, seed = 5L, residual = false)
    assert(r.residual && !v.residual)
    assert(IvfPqIndex.load(spark, dirR).residual)
    assert(!IvfPqIndex.load(spark, dirV).residual)
    // both paths score and return the probe's own id first (the corpus
    // clusters are near-duplicates, so the ADC pool needs headroom for
    // the exact re-rank to see the probe itself)
    val probe = data.filter($"vec_id" === 7L).select("embedding")
      .as[Array[Float]].head()
    Seq(r, v).foreach { idx =>
      val top = idx.topK(data, probe, 3, nprobe = 4, poolK = 150)
        .as[(Long, Double)].collect()
      assert(top.head._1 == 7L, top.toSeq.toString)
    }
    // legacy store: strip the flag column from the centroids sidecar —
    // the load must adopt it and fall back to vector-coded scoring
    val centDir = java.nio.file.Paths.get(dirV, "centroids")
    val legacy = spark.read.parquet(centDir.toString).drop("residual")
    val tmp = dirV + "/centroids_legacy"
    legacy.coalesce(1).write.parquet(tmp)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(centDir).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), centDir)
    // an index that predates the flag also predates the commit log
    graft.GraftQuery.deleteRecursively(new java.io.File(dirV, CommitLog.LogDirName))
    val loaded = IvfPqIndex.load(spark, dirV)
    assert(!loaded.residual)
    val top = loaded.topK(data, probe, 3, nprobe = 4, poolK = 150)
      .as[(Long, Double)].collect()
    assert(top.head._1 == 7L, top.toSeq.toString)
  }

  test("residual codes reconstruct the corpus with lower error than " +
    "vector codes at identical parameters") {
    val data = corpus(600)
    val dirR = tmpDir("graft_pq_re") + "/idx"
    val dirV = tmpDir("graft_pq_ve") + "/idx"
    val r = IvfPqIndex.buildAndSave(data, dirR, "vec_id", "embedding",
      nlist = 4, m = 8, ksub = 16, seed = 5L)
    val v = IvfPqIndex.buildAndSave(data, dirV, "vec_id", "embedding",
      nlist = 4, m = 8, ksub = 16, seed = 5L, residual = false)
    val nvecs = data.as[(Long, Array[Float])].collect().map { case (id, f) =>
      val d = f.map(_.toDouble)
      val n = math.sqrt(d.map(x => x * x).sum).max(1e-12)
      id -> d.map(_ / n)
    }.toMap
    def meanErr(idx: IvfPqIndex): Double = {
      val dsub = 64 / idx.m
      val cents = idx.coarse.sortBy(_._1).map(_._2)
      val rows = idx.codes.select($"vec_id", $"list_id", $"pq_code")
        .as[(Long, Int, Seq[Int])].collect()
      val errs = rows.map { case (id, lid, code) =>
        val decoded = Array.tabulate(64) { i =>
          val s = i / dsub
          val base = if (idx.residual) cents(lid)(i) else 0.0
          base + idx.codebooks(s)(code(s))(i % dsub)
        }
        nvecs(id).zip(decoded).map { case (a, b) => (a - b) * (a - b) }.sum
      }
      errs.sum / errs.length
    }
    val (er, ev) = (meanErr(r), meanErr(v))
    assert(er < ev, s"residual err=$er vector err=$ev")
  }

  test("append: new vectors encode with the frozen codebooks, only " +
    "touched partitions rewrite, they become findable, and the drift " +
    "gate fails loudly leaving the store untouched") {
    val data = corpus(600)
    val dir = tmpDir("graft_pq_app") + "/idx"
    IvfPqIndex.buildAndSave(data, dir, "vec_id", "embedding",
      nlist = 4, m = 8, ksub = 16, seed = 3L)
    val beforeCount = IvfPqIndex.load(spark, dir).codes.count() // eager:
    // the lazy frame would scan files the append is about to replace
    val dirMtimes = (0 until 4).map(l =>
      l -> new java.io.File(s"$dir/data/list_id=$l").lastModified()).toMap

    // append points near the cluster-0 direction: in-distribution
    val newRows = corpus(40, seed = 99)
      .withColumn("vec_id", $"vec_id" + 10000L)
    val stats = IvfPqIndex.append(spark, dir, newRows,
      maxDriftRatio = 100.0, minRowsForDrift = 1L)
    assert(stats.nonEmpty)
    val after = IvfPqIndex.load(spark, dir)
    assert(after.codes.count() == beforeCount + 40)
    // untouched partitions kept their directory identity
    val untouched = (0 until 4).toSet -- stats.keySet
    untouched.foreach { l =>
      assert(new java.io.File(s"$dir/data/list_id=$l").lastModified() ==
        dirMtimes(l), s"untouched list $l was rewritten")
    }
    // an appended vector is findable via its own embedding
    val probe = newRows.filter($"vec_id" === 10000L)
      .select("embedding").as[Array[Float]].head()
    val all = data.unionByName(newRows)
    val hits = after.topK(all, probe, 5, nprobe = 4, poolK = 50)
      .as[(Long, Double)].collect().map(_._1)
    assert(hits.contains(10000L), hits.toSeq.toString)

    // drift gate: far-out-of-distribution vectors fail loudly pre-write
    val weird = (0 until 30).map { i =>
      (20000L + i, Array.tabulate(64)(j => if (j == i % 64) -40f else 39f))
    }.toDF("vec_id", "embedding")
    val cnt = after.codes.count()
    intercept[IllegalStateException] {
      IvfPqIndex.append(spark, dir, weird,
        maxDriftRatio = 1.05, minRowsForDrift = 5L)
    }
    assert(IvfPqIndex.load(spark, dir).codes.count() == cnt)
  }

  test("an existing index path is refused before any fit job runs; a " +
    "save publishes data, centroids and codebooks in ONE commit") {
    val data = corpus(200)
    val taken = tmpDir("graft_pq_taken") + "/idx"
    new java.io.File(taken).mkdirs()
    val sc = spark.sparkContext
    sc.setJobGroup("graft-refusal-probe", "refused build")
    val e = try intercept[IllegalArgumentException] {
      IvfPqIndex.buildAndSave(data, taken, "vec_id", "embedding",
        nlist = 4, m = 8, ksub = 16)
    } finally sc.clearJobGroup()
    assert(e.getMessage.contains(taken), e.getMessage)
    // status events arrive in order: once a later marker job is visible,
    // any job the refused build started would be visible too
    sc.setJobGroup("graft-refusal-marker", "marker")
    try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (sc.statusTracker.getJobIdsForGroup("graft-refusal-marker").isEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
    val ran = sc.statusTracker.getJobIdsForGroup("graft-refusal-probe")
    assert(ran.isEmpty, s"${ran.length} Spark jobs ran before the refusal")
    val ivf = IvfIndex.build(data, "vec_id", "embedding", nlist = 4)
    try intercept[IllegalArgumentException](ivf.save(taken))
    finally ivf.assigned.unpersist()

    val dir = tmpDir("graft_pq_one") + "/idx"
    IvfPqIndex.buildAndSave(data, dir, "vec_id", "embedding",
      nlist = 4, m = 8, ksub = 16).codes.unpersist()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = Swap.fsOf(spark, root)
    assert(CommitLog.currentVersion(fs, root) == 1L)
    val tables = CommitLog.readManifest(fs, root, 1L).added
      .map(_.takeWhile(_ != '/')).toSet
    assert(tables == Set("data", "centroids", "codebooks"), tables)
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  private def hex(d: Double): String =
    java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  /** MD5 of the coarse centroids, the codebooks and the sorted
    * (id, list_id, pq_code) rows, each over exact double bits, and the
    * raw bits of clusterR2. */
  private def digests(idx: IvfPqIndex): Seq[String] = Seq(
    md5(idx.coarse.map { case (i, c) => s"$i:${c.map(hex).mkString(",")}" }.mkString(";")),
    md5(idx.codebooks.map(_.map(_.map(hex).mkString(",")).mkString("|")).mkString(";")),
    md5(idx.codes.select($"vec_id", $"list_id", $"pq_code").as[(Long, Int, Seq[Int])]
      .collect().sortBy(_._1).map { case (i, l, c) => s"$i,$l,${c.mkString(" ")}" }
      .mkString(";")),
    hex(idx.clusterR2))

  test("pinned index digests: coarse quantizer, codebooks and codes are " +
    "bit-identical to the pre-shared-core build on the fixture and on a " +
    "clustered corpus") {
    val base = tmpDir("graft_pq_pins")
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val fixture = IvfPqIndex.buildAndSave(e, s"$base/fixture", "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 32, seed = 42L)
    assert(digests(fixture) == Seq(
      "3d7a152e68e873ed0c0c8070ed5228f5", "32f62565ee20bb19b198f985081eda84",
      "fc3eb5cf74eedd44c4ec427e50654211", "3fb2a3b02a77ca20"))
    val clustered = IvfPqIndex.buildAndSave(corpus(600), s"$base/clustered",
      "vec_id", "embedding", nlist = 4, m = 8, ksub = 16, seed = 5L)
    assert(digests(clustered) == Seq(
      "6e9b6e420766a04db9cbb1da8d4e191b", "f0fb741cb2151e0853962b26702d9a0c",
      "17794e0febdb1a9595a3698a5ebe4f69", "3fed7177b870d846"))
  }
}
