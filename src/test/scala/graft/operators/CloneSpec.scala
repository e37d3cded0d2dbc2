package graft.operators

import java.nio.file.Files

import graft.flow.SparkTestSession
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Zero-copy shallow clone: O(metadata) creation, independent lifelines
  * (source appends invisible to the clone, clone writes diverge
  * copy-on-write into the clone's own directory), metadata count carries
  * over, and clone-side vacuum cannot touch shared source files. */
class CloneSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def mk(src: String): Unit =
    Merge.into(spark, src,
      (1L to 100L).map(k => (k, "v" + k)).toDF("k", "v"), Seq("k"))

  private def dataFilesUnder(dir: String): Seq[String] = {
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.getPath.getName == "_log") Nil
        else if (st.isDirectory) walk(st.getPath)
        else Seq(st.getPath.toString)
      }
    if (fs.exists(new Path(dir))) walk(new Path(dir)) else Nil
  }

  test("clone reads the pinned source snapshot with ZERO copied data " +
    "files; source appends stay invisible; metadata count carries over") {
    val src = tmp("graft_cl_src") + "/s"
    val dst = tmp("graft_cl_dst") + "/c"
    mk(src)
    CommitLog.shallowClone(spark, new Path(src), new Path(dst))
    assert(dataFilesUnder(dst).isEmpty, "a shallow clone must copy nothing")
    assert(CommitLog.read(spark, new Path(dst)).get.count() == 100)
    assert(CommitLog.fastCount(fs, new Path(dst), 1L).contains(100L),
      "recorded row counts must carry into the clone manifest")

    Merge.into(spark, src,
      Seq((200L, "late")).toDF("k", "v"), Seq("k"))
    assert(CommitLog.read(spark, new Path(src)).get.count() == 101)
    assert(CommitLog.read(spark, new Path(dst)).get.count() == 100,
      "the clone is pinned to the snapshot it cloned")
  }

  test("writes to the clone diverge copy-on-write: clone changes land " +
    "under the clone, the source is bit-identical") {
    val src = tmp("graft_cl_cow_src") + "/s"
    val dst = tmp("graft_cl_cow_dst") + "/c"
    mk(src)
    val srcFilesBefore = dataFilesUnder(src).toSet
    CommitLog.shallowClone(spark, new Path(src), new Path(dst))

    Merge.into(spark, dst,
      Seq((1L, "CLONE-EDIT"), (500L, "clone-new")).toDF("k", "v"), Seq("k"))
    Delete.where(spark, dst, $"k" === 2L)

    val clone = CommitLog.read(spark, new Path(dst)).get
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(clone(1L) == "CLONE-EDIT" && clone(500L) == "clone-new")
    assert(!clone.contains(2L) && clone.size == 100)

    val source = CommitLog.read(spark, new Path(src)).get
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(source(1L) == "v1" && source.contains(2L) && source.size == 100,
      "clone writes must not leak into the source")
    assert(dataFilesUnder(src).toSet == srcFilesBefore,
      "no source file may be touched by clone writes")
    assert(dataFilesUnder(dst).nonEmpty,
      "diverged data must live under the clone")
    // time travel: the clone's own v1 is still the pristine snapshot
    assert(CommitLog.read(spark, new Path(dst), Some(1L)).get.count() == 100)
  }

  test("vacuum on the clone never deletes shared source files") {
    val src = tmp("graft_cl_vac_src") + "/s"
    val dst = tmp("graft_cl_vac_dst") + "/c"
    mk(src)
    CommitLog.shallowClone(spark, new Path(src), new Path(dst))
    // diverge everything so the absolute references become removable
    Merge.into(spark, dst,
      (1L to 100L).map(k => (k, "x" + k)).toDF("k", "v"), Seq("k"))
    CommitLog.vacuum(spark, new Path(dst), retainVersions = 1,
      orphanGraceMs = 0L)
    assert(CommitLog.read(spark, new Path(src)).get.count() == 100,
      "source must survive clone-side vacuum untouched")
  }

  test("partitioned and already-cloned sources are refused") {
    val src = tmp("graft_cl_bad_src") + "/s"
    Merge.into(spark, src,
      (1L to 20L).map(k => (k, "v" + k, "p" + (k % 2))).toDF("k", "v", "p"),
      Seq("k"), prunePartitions = Some("p"))
    intercept[IllegalArgumentException] {
      CommitLog.shallowClone(spark, new Path(src),
        new Path(tmp("graft_cl_bad_dst") + "/c"))
    }
    val flat = tmp("graft_cl_chain_src") + "/s"
    mk(flat)
    val c1 = tmp("graft_cl_chain_c1") + "/c"
    CommitLog.shallowClone(spark, new Path(flat), new Path(c1))
    intercept[IllegalArgumentException] {
      CommitLog.shallowClone(spark, new Path(c1),
        new Path(tmp("graft_cl_chain_c2") + "/c"))
    }
  }
}
