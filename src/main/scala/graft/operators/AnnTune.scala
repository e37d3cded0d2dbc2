package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scratch measurement main for adaptive ANN parameter rules (r17):
  * sweeps nprobe/poolK on both recall panels and prints the measurable
  * corpus stats (IVF cluster R², PCA explained-variance ratio) next to
  * the recall each knob value achieves, so the auto rules are FITTED TO
  * MEASUREMENT rather than guessed. Not part of the library surface.
  */
object AnnTune {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.GraftQuery

    val fixture = graft.sources.Tables.embeddings(spark, sfDir).persist()
    val n = fixture.count()
    val dim = fixture.select(size(col("embedding"))).head().getInt(0)

    // same clustered panel construction as RecallReport
    def mix(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def unit(seed: Long): Array[Double] = {
      val v = Array.tabulate(dim)(j => mix(seed * 8191L + j).toDouble / Long.MaxValue)
      val nn = math.sqrt(v.map(x => x * x).sum).max(1e-12)
      v.map(_ / nn)
    }
    import spark.implicits._
    val centers = Array.tabulate(32)(c => unit(0xc0ffee00L + c))
    val clustered = (0 until n.toInt).map { i =>
      val c = centers(i % 32)
      val noise = unit(0xabcdef00L + i)
      (i.toLong, c.indices.map(j => (c(j) + 0.25 * noise(j)).toFloat).toArray)
    }.toDF("vec_id", "embedding").persist()

    val k = 10
    val nProbes = 20

    def panelStats(corpus: DataFrame, label: String): Unit = {
      val probes: Seq[(Long, Array[Float])] = corpus
        .orderBy("vec_id").limit(nProbes)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      def top(df: DataFrame, self: Long): Seq[Long] =
        df.select(col(df.columns.head).cast("long"))
          .collect().map(_.getLong(0)).filter(_ != self).take(k).toSeq
      val exact: Map[Long, Set[Long]] = probes.map { case (id, p) =>
        id -> top(Similarity.bruteForceTopK(corpus, "vec_id", "embedding", p, k + 1), id).toSet
      }.toMap
      def recallOf(run: (Long, Array[Float]) => DataFrame): Double = {
        val rs = probes.map { case (id, p) =>
          val got = top(run(id, p), id).toSet
          (exact(id) intersect got).size.toDouble / exact(id).size
        }
        rs.sum / rs.size
      }

      // --- IVF flat: R² + nprobe sweep
      val ivf = IvfIndex.build(corpus, "vec_id", "embedding", nlist = 8)
      println(f"[$label] n=$n dim=$dim IVF nlist=8 R2=${ivf.clusterR2}%.4f")
      for (np <- Seq(2, 3, 4, 5, 6, 7, 8)) {
        val r = recallOf((_, p) => ivf.topK(p, k + 1, nprobe = np))
        println(f"[$label] ivf_flat nprobe=$np recall=$r%.3f")
      }

      // --- PCA: evr + poolK sweep
      val pca = Pca.fit(corpus, "embedding", k = 16)
      val evr = pca.variances.sum / totalVar(corpus, dim)
      println(f"[$label] PCA k=16 evr=$evr%.4f")
      for (pk <- Seq(100, 200, 400, 800, 1600, 3200)) {
        val r = recallOf((_, p) =>
          Similarity.pcaTopK(corpus, "vec_id", "embedding", p, k + 1, pca, poolK = pk))
        println(f"[$label] pca16 poolK=$pk recall=$r%.3f")
      }

      // --- IVF-PQ: nprobe/poolK sweep
      val pqBase = graft.GraftQuery.tempDir("graft_tune_pq")
      val pq = IvfPqIndex.buildAndSave(
        corpus, pqBase + "/idx", "vec_id", "embedding", nlist = 8, m = 8, ksub = 32)
      for (np <- Seq(4, 8); pk <- Seq(150, 300, 600, 1200)) {
        val r = recallOf((_, p) =>
          pq.topK(corpus, p, k + 1, nprobe = np, poolK = pk))
        println(f"[$label] ivf_pq nprobe=$np poolK=$pk recall=$r%.3f")
      }
      ivf.assigned.unpersist()
      pq.codes.unpersist()
      graft.GraftQuery.deleteRecursively(new java.io.File(pqBase))
    }

    def totalVar(corpus: DataFrame, dim: Int): Double = {
      // trace of the covariance of the RAW (unnormalized) doubles — the
      // same matrix Pca.fit decomposes
      val dbl = corpus.select(col("embedding").cast("array<double>").as("v"))
      val means = dbl.select(
        (0 until dim).map(j => avg(element_at(col("v"), j + 1)).as(s"m$j")): _*)
        .head().toSeq.map(_.asInstanceOf[Double])
      val vars = dbl.select(
        (0 until dim).map(j =>
          avg(pow(element_at(col("v"), j + 1) - lit(means(j)), 2)).as(s"v$j")): _*)
        .head().toSeq.map(_.asInstanceOf[Double])
      vars.sum
    }

    panelStats(fixture, "fixture")
    panelStats(clustered, "clustered")
    spark.stop()
  }
}
