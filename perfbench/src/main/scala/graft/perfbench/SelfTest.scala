package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The checkers must accept a right answer and reject a corrupted
  * expectation. Run by `python3 perfbench/test_checker.py` with the
  * fingerprint file and the data set; exits 1 when any check does not
  * hold. The last checks run one real query through the sweep's gate. */
object SelfTest {
  val GateQuery = "health_check"
  private var failures = 0
  private def expect(what: String, cond: Boolean): Unit = {
    println(s"${if (cond) "ok  " else "FAIL"} $what")
    if (!cond) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // batch_sweep: fingerprints
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("score", DoubleType), StructField("tags", ArrayType(StringType))))
    val rows = Array(Row(1L, 0.5, Seq("a")), Row(2L, 0.25, Seq("b", "c")))
    val fp = Check.fingerprint(schema, rows)
    expect("fingerprint ignores row order",
      Check.fingerprint(schema, rows.reverse) == fp)
    expect("fingerprint rejects a dropped row",
      Check.fingerprint(schema, rows.take(1)) != fp)
    expect("fingerprint rejects a changed value",
      Check.fingerprint(schema, Array(Row(1L, 0.500001, Seq("a")), rows(1))) != fp)
    expect("fingerprint rejects a dropped duplicate row",
      Check.fingerprint(schema, rows :+ rows(0)) != fp)
    expect("fingerprint rejects a renamed column",
      Check.fingerprint(StructType(schema.fields.updated(0,
        StructField("vec_id", LongType))), rows) != fp)

    // serving: exact top-k
    val want = Seq((7L, 0.91), (3L, 0.9), (9L, 0.9))
    expect("top-k accepts the exact answer", Check.topK(want, want).isEmpty)
    expect("top-k rejects a corrupted score",
      Check.topK(want.updated(0, (7L, 0.910001)), want).isDefined)
    expect("top-k rejects a swapped tie order",
      Check.topK(Seq(want(0), want(2), want(1)), want).isDefined)
    expect("top-k rejects a missing hit", Check.topK(want, want.take(2)).isDefined)

    // serve_refresh: which generations a read may have seen
    val calls = IndexedSeq(Double.NegativeInfinity, 100.0, 200.0)
    val rets = IndexedSeq(0.0, 120.0, 230.0)
    expect("read inside generation 0 checks only generation 0",
      Check.allowedGenerations(10, 20, calls, rets) == Seq(0))
    expect("read inside generation 1 checks only generation 1",
      Check.allowedGenerations(130, 150, calls, rets) == Seq(1))
    expect("read across a refresh may see either side",
      Check.allowedGenerations(95, 110, calls, rets) == Seq(0, 1))
    expect("read after the last refresh checks only the last generation",
      Check.allowedGenerations(240, 250, calls, rets) == Seq(2))

    // the sweep's gate on a real query, against the given expectations
    val Array(fpPath, dataDir, workDir) = args.take(3)
    val gate = BatchSweep.expectations(fpPath).toMap.get(GateQuery)
    expect(s"$GateQuery has an expectation", gate.isDefined)
    gate.foreach { w =>
      val spark = new RunCtx("selftest", 0L, 0, traced = false, dataDir, workDir,
        "", "").session()
      val df = graft.SparkEntry.queries(GateQuery)(spark, dataDir)
      val rows = df.collect()
      val got = Check.fingerprint(df.schema, rows)
      expect(s"$GateQuery matches its expectation", got == w)
      expect(s"the gate rejects $GateQuery with its last row dropped",
        Check.fingerprint(df.schema, rows.dropRight(1)) != w)
      expect(s"the gate rejects $GateQuery with its first row doubled",
        Check.fingerprint(df.schema, rows ++ rows.take(1)) != w)

      // serving truth: knnBatch over one row per distinct embedding,
      // expanded, equals knnBatch over every row of a tiled collection
      val tiled = Serve.tiled(spark, dataDir, 12)
      val base = Serve.baseRows(spark, dataDir)
      val qs = Serve.queries(base, new scala.util.Random(7), 6)
        .zipWithIndex.map { case (q, i) => i.toLong -> q }.toSeq
      val gs = Serve.groups(tiled)
      val viaGroups = Serve.knnTruth(spark, gs, qs)
      import spark.implicits._
      val full = graft.operators.Search.knnBatch(tiled,
          qs.map { case (i, q) => (i, q.toSeq) }.toDF("query_id", "qemb"),
          Serve.K, Serve.Threshold)
        .select("query_id", "rank", "id", "score").collect()
        .groupBy(_.getLong(0)).map { case (i, xs) =>
          i -> xs.sortBy(_.getLong(1)).map(x => (x.getLong(2), x.getDouble(3))).toSeq }
      expect("knnBatch over distinct embeddings, expanded, matches knnBatch over every tiled row",
        qs.forall { case (i, _) =>
          full.get(i).exists(_.length == Serve.K) && Check.topK(full(i), viaGroups(i)).isEmpty })
      expect("the truth scan matches knnBatch over every tiled row",
        qs.forall { case (i, q) => Check.topK(full(i), Serve.scan(gs, q)).isEmpty })
      spark.stop()
    }

    println(if (failures == 0) "ALL CHECKS HOLD" else s"$failures FAILED")
    System.exit(if (failures == 0) 0 else 1)
  }
}
