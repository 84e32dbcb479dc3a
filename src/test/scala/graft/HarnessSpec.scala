package graft

import java.nio.file.{Files, Paths}

class HarnessSpec extends SparkSpecBase {

  test("query selection rejects unknown SPARK_GRAFT_ONLY keys and names them") {
    val err = intercept[IllegalArgumentException] {
      Harness.select(Some(Set("q01_flow_agg", "q01_flow_agg_typo")))
    }
    assert(err.getMessage.endsWith("unknown queries: q01_flow_agg_typo"))
    assert(Harness.select(Some(Set("q01_flow_agg"))).map(_._1) == Seq("q01_flow_agg"))
    val all = Harness.select(None).map(_._1)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("warmUp skips absent tables and propagates a table that fails to load") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_warm").toString
    Seq((1L, 2L)).toDF("k", "v").write.parquet(s"$dir/lineitem.parquet")
    Harness.warmUp(spark, dir) // nine of the ten tables absent
    Files.write(Paths.get(s"$dir/region.parquet"), "not parquet".getBytes("UTF-8"))
    intercept[Exception](Harness.warmUp(spark, dir))
  }

  test("PlanDump.normalize: same plan under other ids and hashes dumps byte-equal") {
    def plan(a: Int, b: Int, pid: Int, hash: String, dir: String) =
      s"""(1) Scan parquet
         |Output [2]: [id#$a, x#$b]
         |Location: InMemoryFileIndex [file:/tmp/graft_a15p_$dir/cells]
         |(2) Exchange
         |Arguments: hashpartitioning(id#$a, 4), ENSURE_REQUIREMENTS, [plan_id=$pid]
         |(3) Scan ExistingRDD [doc_id#$a], MapPartitionsRDD[$pid] at createDataFrame
         |(4) Project [codegen id : 1]
         |Input [2]: [id#$a, x#$b], obj=Foo@$hash
         |Arguments: graft.ann.Ann$$$$$$Lambda$$$pid/0x00007f09c95c$hash@$hash""".stripMargin
    val one = PlanDump.normalize(plan(12, 13, 40, "1b2c3d4e", "8812345"))
    val two = PlanDump.normalize(plan(907, 905, 311, "7f00aa12", "1234"))
    assert(one == two)
    assert(one.contains("id#0, x#1") && one.contains("plan_id=0"))
    // renumbering keeps which references share an id
    assert(PlanDump.normalize("a#7 b#9 c#7") == "a#0 b#1 c#0")
    assert(PlanDump.normalize("a#1 b#2") != PlanDump.normalize("a#1 b#1"))
  }

  test("PlanDump.normalize renumbers lambda variables in first-appearance order") {
    // Spark names lambda variables from one JVM-wide counter, so the
    // same plan built after other queries carries higher suffixes
    def plan(x: Int) =
      s"aggregate(xs#3, 0.0, lambdafunction((x_$x + y_${x + 1}), " +
        s"lambdavariable(x_$x), lambdavariable(y_${x + 1})), max_7)"
    assert(PlanDump.normalize(plan(1)) == PlanDump.normalize(plan(64)))
    assert(PlanDump.normalize("x_64 y_65 x_64 max_12") == "x_0 y_1 x_0 max_12")
    assert(PlanDump.normalize("x_1 x_2") != PlanDump.normalize("x_1 x_1"))
  }
}
