package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seed-swept fixture generator (r12 VERDICT item 5): writes a
  * deterministic, seeded PERTURBATION of an existing fixture directory
  * so the bitwise oracle sweep can run on fixtures the queries were
  * never tuned against. Both determinism hazards found in r12 (−0.0 in
  * q_array_funcs, the q_embed_margin round-4 midpoint) were invisible
  * on the standard fixture and surfaced only when the data moved — this
  * tool makes "the data moved" a repeatable gate instead of luck.
  *
  * The sweep compares SPARK against DUCKDB over the SAME morphed
  * parquet, so any schema-valid perturbation is a legitimate probe; the
  * morphs keep value classes plausible (prices stay 2-decimal,
  * quantities positive, embeddings float32-scaled) because the hazard
  * classes live on those grids — a ±0.0x jitter lands different rows on
  * round-boundary/sign-flip cells each seed.
  *
  * Output mirrors the driver layout (single FILE per table named
  * `<t>.parquet`) so Verify and dev/check_oracle.py run against it
  * unchanged.
  *
  * Usage: runMain graft.FixtureMorph [srcDir dstDir seed]
  */
object FixtureMorph {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val dst = args.lift(1).getOrElse("target/morph/s1")
    val seed = args.lift(2).map(_.toLong).getOrElse(1L)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try generate(spark, src, dst, seed)
    finally spark.stop()
  }

  /** documents: swap the first two words on ~half the docs per seed —
    * shifts shingle sets, boundary pairs, and token positions without
    * inventing content the generator contract never produces */
  def documents(docs: DataFrame, seed: Long): DataFrame = {
    val w = split(col("text"), " ")
    val swapped = when(size(w) >= 2 && pmod(xxhash64(lit(seed), col("doc_id")), lit(2L)) === 0,
      concat_ws(" ",
        concat(array(element_at(w, 2), element_at(w, 1)),
          slice(w, lit(3), greatest(size(w) - 2, lit(0))))))
      .otherwise(col("text"))
    docs.select(
      col("doc_id"), swapped.as("text"), col("lang"), col("source"),
      length(swapped).cast("long").as("n_chars"))
  }

  def generate(spark: SparkSession, src: String, dst: String, seed: Long): Unit = {
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    // single-file output named <t>.parquet, like the driver fixture
    def write(df: DataFrame, t: String): Unit = {
      val tmp = s"$dst/.tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet")).head.getPath
      val out = new org.apache.hadoop.fs.Path(s"$dst/$t.parquet")
      fs.delete(out, false)
      fs.rename(part, out)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"[morph] wrote $t")
    }

    // deterministic per-row lattice: zero-mean integer in [-(m/2), m/2]
    def jit(m: Int, keys: Column*): Column =
      pmod(xxhash64((lit(seed) +: keys): _*), lit(m.toLong)) - (m / 2)

    // jitter on the 2-decimal money/measure grid, re-rounded so the
    // stored value stays ON the grid (rounding hazards live there)
    def jit2(c: Column, m: Int, keys: Column*): Column =
      round(c + jit(m, keys: _*).cast("double") * 0.01, 2)

    write(read("region"), "region")
    write(read("nation"), "nation")

    write(read("customer").select(
      col("c_custkey"), col("c_name"), col("c_nationkey"),
      jit2(col("c_acctbal"), 41, col("c_custkey")).as("c_acctbal"),
      col("c_mktsegment")), "customer")

    write(read("supplier").select(
      col("s_suppkey"), col("s_name"), col("s_nationkey"),
      jit2(col("s_acctbal"), 41, col("s_suppkey")).as("s_acctbal")), "supplier")

    write(read("part").select(
      col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
      greatest(col("p_size") + jit(7, col("p_partkey")).cast("int"), lit(1))
        .as("p_size"),
      jit2(col("p_retailprice"), 41, col("p_partkey")).as("p_retailprice")),
      "part")

    write(read("orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      jit2(col("o_totalprice"), 41, col("o_orderkey")).as("o_totalprice"),
      (col("o_orderdate") + make_interval(lit(0), lit(0), lit(0), lit(0), lit(0), lit(0),
        jit(7200, col("o_orderkey")).cast("double"))).as("o_orderdate"),
      col("o_orderpriority")), "orders")

    write(read("lineitem").select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
      greatest(col("l_quantity") +
        jit(5, col("l_orderkey"), col("l_linenumber")).cast("double"), lit(1.0))
        .as("l_quantity"),
      jit2(col("l_extendedprice"), 41, col("l_orderkey"), col("l_linenumber"))
        .as("l_extendedprice"),
      least(greatest(jit2(col("l_discount"), 5, col("l_partkey")), lit(0.0)), lit(0.5))
        .as("l_discount"),
      least(greatest(jit2(col("l_tax"), 5, col("l_suppkey")), lit(0.0)), lit(0.5))
        .as("l_tax"),
      col("l_returnflag"), col("l_linestatus"),
      (col("l_shipdate") + make_interval(lit(0), lit(0), lit(0), lit(0), lit(0), lit(0),
        jit(7200, col("l_orderkey"), col("l_linenumber")).cast("double")))
        .as("l_shipdate")), "lineitem")

    write(read("events").select(
      col("event_id"),
      (col("ts") + make_interval(lit(0), lit(0), lit(0), lit(0), lit(0), lit(0),
        jit(61, col("event_id")).cast("double")))
        .as("ts"),
      col("user_id"), col("event_type"),
      jit2(col("value"), 41, col("event_id")).as("value"),
      col("props")), "events")

    write(documents(read("documents"), seed), "documents")

    // embeddings: per-element relative scaling up to ±5e-3, cast back to
    // float32 — every element moves to a new float lattice point
    val morphedVec = transform(col("embedding"), (x, j) =>
      (x.cast("double") * (lit(1.0) +
        (pmod(xxhash64(lit(seed), col("vec_id"), j), lit(1001L)) - 500L)
          .cast("double") * 1e-5)).cast("float"))
    write(read("embeddings").select(
      col("vec_id"), morphedVec.as("embedding"), col("label")), "embeddings")
  }
}
