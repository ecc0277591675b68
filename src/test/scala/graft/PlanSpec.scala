package graft

import org.apache.spark.sql.functions._

/** Physical-plan quality gates (SURVEY.md §4): these assert the *shape* of
  * the plans Catalyst produces — filters reaching the parquet scan, column
  * pruning, broadcast of small dimensions, whole-stage codegen presence —
  * the properties that decide whether a query survives a 100× scale-up.
  */
class PlanSpec extends SparkTest {
  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters are pushed down to the parquet scan") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select("l_orderkey")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThan(l_quantity,45.0)"), plan.take(2000))
  }

  test("column pruning: scan reads only projected columns") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val plan = planOf(df)
    val readSchema = "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"
    assert(plan.contains(readSchema), plan.take(2000))
  }

  test("small dimension joins broadcast") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    val df = orders.join(customer, col("o_custkey") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(sum("o_totalprice"))
    df.collect() // AQE finalizes the plan on execution
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("aggregation pipeline stays inside whole-stage codegen") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_returnflag").agg(sum("l_quantity"))
    df.collect() // AQE finalizes (codegen stage markers only appear then)
    val plan = planOf(df)
    assert(plan.contains("*(") || plan.contains("WholeStageCodegen"), plan.take(2000))
  }

  test("lang-partitioned code table prunes partitions at the scan") {
    val files = graft.sources.CodeTable.generate(spark,
      graft.sources.GraphSpec(numCycles = 8, maxCycleLen = 6, extraArcsPerVertex = 0.3, seed = 9L))
    val path = java.nio.file.Files.createTempDirectory("codetbl_").toString + "/files"
    graft.sources.CodeTable.writePartitioned(files, path)
    val df = spark.read.parquet(path)
      .filter(col("lang") === "py")
      .select("fileId", "path")
    val plan = planOf(df)
    // the lang predicate must be a partition filter (directory pruning),
    // not a data filter over all rows
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      plan.take(2000))
    // only the lang=py directory's files are read (4 langs written):
    // compare the executed scan's numFiles metric with the files on disk
    df.collect()
    val scan = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val readFiles = scan.metrics("numFiles").value
    val diskFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(readFiles < diskFiles, s"read $readFiles of $diskFiles files")
  }

  test("stats-free checkpoint keeps superstep stats bounded") {
    val s = spark; import s.implicits._
    val arena = new graft.plans.CheckpointArena
    var st = arena.checkpoint((0L until 100L).map(i => (i, i)).toDF("id", "comp")).df
    val other = st.select(col("id").as("lid"), col("comp").as("lcomp"))
    // 15 self-join supersteps: with Dataset.localCheckpoint this squares
    // sizeInBytes each step (bitLength doubles); with the shim it stays flat
    for (_ <- 0 until 15) {
      val labels = st.select(col("id").as("lid"), col("comp").as("lcomp"))
      val next = st.join(labels, st("comp") === labels("lid"), "left")
        .select(st("id"), least(st("comp"), coalesce(col("lcomp"), st("comp"))).as("comp"))
      val prev = st
      st = arena.checkpoint(next).df
      arena.release(prev)
    }
    val bits = st.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    assert(bits < 128, s"stats sizeInBytes bitLength=$bits — stats leaking across checkpoints")
    arena.closeExcept()
  }

  test("checkpoint statistics are its exact rows and packed bytes; single-partition joins stay in place") {
    val s = spark; import s.implicits._
    val arena = new graft.plans.CheckpointArena
    def single(n: Long) =
      arena.checkpoint((0L until n).map(i => (i, s"v$i")).toDF("id", "v").repartition(1))
    val a = single(300)
    val b = single(200)
    for (ck <- Seq(a, b)) {
      val stats = ck.df.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(ck.rows)), s"$stats vs ${ck.rows} rows")
      val packed = ck.df.queryExecution.toRdd
        .map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow]
          .getSizeInBytes.toLong)
        .fold(0L)(_ + _)
      assert(stats.sizeInBytes == BigInt(packed), s"$stats vs $packed packed bytes")
    }
    // the case of WCC's exact confirmation: both sides one partition, so
    // the join needs no exchange once their sizes are known to fit one
    // partition (default statistics exceed spark.sql.maxSinglePartitionBytes)
    val joined = a.df.join(b.df.hint("shuffle_hash"), "id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(joined.count() == 200)
    arena.closeExcept()
  }

  test("checkpoint rides equal the same aggregates over the checkpointed frame") {
    import org.apache.spark.sql.GraftShims.{CountIf, Max, Sum, XorSig}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("v", LongType, true), StructField("flag", BooleanType, true),
      StructField("st", IntegerType, false)))
    val rows = Seq(Row(1L, 5L, true, 4), Row(2L, null, null, 12), Row(3L, -9L, false, 1),
      Row(4L, 40L, true, 8), Row(5L, null, false, 3), Row(6L, 7L, null, 0))
    // 6 rows in 8 slices: at least two partitions are empty
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
    assert(df.rdd.mapPartitions(it => Iterator(it.size)).collect().contains(0))
    val rides = Seq(CountIf("flag"), CountIf("st", 12), CountIf("st", 1),
      Sum("v"), Max("v"), XorSig(Seq("id", "v")))
    def aggOf(f: org.apache.spark.sql.DataFrame): Seq[Long] = {
      val r = f.agg(
        count(lit(1)),
        sum(when(col("flag"), 1L).otherwise(0L)),
        sum(when(col("st").bitwiseAND(12) =!= 0, 1L).otherwise(0L)),
        sum(when(col("st").bitwiseAND(1) =!= 0, 1L).otherwise(0L)),
        sum("v"), max("v"), bit_xor(xxhash64(col("id"), col("v")))).head()
      (0 until 7).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
    }
    val arena = new graft.plans.CheckpointArena
    // the empty frame reads 0 for every ride, Max included
    for (frame <- Seq(df, df.filter(lit(false)))) {
      val ck = arena.checkpoint(frame, rides: _*)
      assert((ck.rows +: ck.rides) == aggOf(ck.df))
    }
    arena.closeExcept()
  }

  /** A double sum depends on its order of addition. The ride adds each
    * partition's rows in order and then the partition partials in
    * partition order, whatever order the tasks finish in, so it equals
    * that fold computed here, bit for bit, on every run.
    */
  test("a double-sum ride adds partition partials in partition order, every run") {
    import org.apache.spark.sql.GraftShims.SumDouble
    val s = spark; import s.implicits._
    val rows = (0 until 2000).map(i => (i.toLong, 1.0 / (i + 3), (i % 3).toLong))
    val df = spark.createDataset(rows).toDF("id", "x", "k").repartition(8, col("id"))
      .sortWithinPartitions("id")
    def fold(zeroOnly: Boolean): Double =
      df.rdd.mapPartitions { it =>
        var p = 0.0
        it.foreach(r => if (!zeroOnly || r.getLong(2) == 0L) p += r.getDouble(1))
        Iterator(p)
      }.collect().foldLeft(0.0)(_ + _)
    val want = (fold(false), fold(true))
    val arena = new graft.plans.CheckpointArena
    for (_ <- 1 to 3) {
      val ck = arena.checkpoint(df, SumDouble("x"), SumDouble("x", Some("k")))
      assert((ck.double(0), ck.double(1)) == want)
      arena.release(ck.df)
    }
    val empty = arena.checkpoint(df.filter(lit(false)), SumDouble("x", Some("k")))
    assert(empty.double(0) == 0.0)
    arena.closeExcept()
  }

  test("checkpoint preserves hash partitioning (no re-exchange on same-key join)") {
    val s = spark; import s.implicits._
    val arena = new graft.plans.CheckpointArena
    val base = (0L until 1000L).map(i => (i, i * 2)).toDF("id", "v")
      .repartition(col("id"))
    val chk = arena.checkpoint(base).df
    // 1) the checkpoint leaf must CARRY a usable hash partitioning
    val lr = chk.queryExecution.optimizedPlan
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    assert(!lr.outputPartitioning.toString.toLowerCase.contains("unknown"),
      s"checkpoint lost partitioning: ${lr.outputPartitioning}")

    // 2) with AQE partition-coalescing disabled (it legitimately shrinks
    // tiny states to fewer partitions than the peer, forcing a cheap
    // re-exchange), a same-key join over the checkpoint must not
    // re-shuffle the checkpointed side.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // new plan, not `base`: a Dataset memoizes its QueryExecution, so
      // re-checkpointing `base` would reuse the coalesced first execution
      val base2 = (0L until 1000L).map(i => (i, i * 2)).toDF("id", "v")
        .repartition(col("id"))
      val chk2 = arena.checkpoint(base2).df
      val small = (0L until 500L).map(i => (i, "x")).toDF("id", "tag")
        .repartition(col("id"))
      // force a shuffle-requiring join (tiny tables would broadcast)
      val joined = chk2.join(small.hint("merge"), Seq("id"))
      joined.collect()
      val plan = planOf(joined)
      val finalSection = plan.split("== Initial Plan ==").head
      val exchanges = "Exchange hashpartitioning".r.findAllIn(finalSection).size
      assert(exchanges <= 1, s"$exchanges exchanges in final plan:\n${finalSection.take(3000)}")
    } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    arena.closeExcept()
  }

  test("distinct after repartition(src) adds no second exchange (subset clustering)") {
    // HashPartitioning(src) satisfies ClusteredDistribution(src, dst) — all
    // duplicates of an (src, dst) pair share hash(src) — so the dedup
    // aggregation runs in place. Scc.components' edge build depends on this
    // (one exchange for the deduped src-partitioned edge copy, not two).
    val e = edgesDf((0L until 2000L).map(i => (i % 50, i % 97)))
    val df = e.repartition(col("src")).distinct()
    df.collect()
    val plan = planOf(df)
    val finalSection = plan.split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalSection).size
    assert(exchanges == 1, s"$exchanges exchanges in final plan:\n${finalSection.take(3000)}")
  }
}
