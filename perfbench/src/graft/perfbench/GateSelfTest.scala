package graft.perfbench

/** The correctness gate's own tests: it must pass a correct epoch, count
  * a repost without failing, and fail on a planted lost event, a foreign
  * duplicate and a wrong router count. Pure data, no Spark. Run with
  * `python3 perfbench/run.py --self-test`; exits 1 on any failure. */
object GateSelfTest {
  private val m = Manifest(7, "/in",
    Seq(CfgSpec("a", "/in/a_"), CfgSpec("b", "/in/b_", dynamicName = false),
      CfgSpec("c", "/in/c_", fileType = "CSV")),
    IndexedSeq(FileSpec("a_0.parquet", 50), FileSpec("a_1.parquet", 50),
      FileSpec("b_0.parquet", 50), FileSpec("a_bad.parquet", 50, corrupt = true),
      FileSpec("c_0.csv", 0, parquet = false), FileSpec("zz_0.json", 0, parquet = false)),
    badShare = 0.2)

  /** A delivery and an observation exactly as the manifest expects. */
  private def perfect(): (Delivery, Observed) = {
    val d = new Delivery(m)
    for (f <- m.files.indices; r <- 0 until m.files(f).rows if m.delivers(f, r)) {
      d.counts(f).set(r, 1)
      d.distinct.incrementAndGet()
    }
    val counters = m.expected.map { case (c, e) => c -> Map("n_rows" -> e.rows,
      "n_dlq" -> e.dlq.values.sum, "ts_parse_errors" -> e.tsParseErrors,
      "missing_distinct_id" -> e.missingDistinctId) }
    val byType = m.expected.toSeq.flatMap { case (c, e) => e.dlq.map { case (t, n) => (c, t) -> n } }.toMap
    (d, Observed(Some(m.matched), Some(m.unmatched), Some(m.readErrors), counters,
      Some(byType), Nil, Some(m.imported.toSet)))
  }

  private def firstDelivering: (Int, Int) =
    (for (f <- m.files.indices; r <- 0 until m.files(f).rows if m.delivers(f, r)) yield (f, r)).head

  private var failures = 0
  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} - $name")
    if (!pass) failures += 1
  }

  def main(args: Array[String]): Unit = {
    check("the manifest plants rows of every kind under test") {
      val e = m.expected
      e("a").dlq.getOrElse("missing_dynamic_event_name", 0L) > 0 &&
        e("a").dlq.getOrElse("missing_required_field", 0L) > 0 &&
        !e("b").dlq.contains("missing_dynamic_event_name") && m.unmatched == 1 &&
        m.readErrors == Map("a" -> 1L) && m.matched("c") == 1
    }
    check("a correct epoch passes") {
      val (d, o) = perfect()
      val v = Gate.check(m, d, o)
      v.ok && v.reposts == 0 && v.delivered == m.totalOk
    }
    check("a repost of a delivered id is counted, not failed") {
      val (d, o) = perfect()
      val (f, r) = firstDelivering
      d.counts(f).incrementAndGet(r)
      val v = Gate.check(m, d, o)
      v.ok && v.reposts == 1
    }
    check("a lost event fails the gate") {
      val (d, o) = perfect()
      val (f, r) = firstDelivering
      d.counts(f).set(r, 0)
      val v = Gate.check(m, d, o)
      !v.ok && v.errors.exists(_.contains("lost")) &&
        v.errors.exists(_.contains(Gen.insertId(m.seed, f, r)))
    }
    check("an undelivered event in the API DLQ is accounted, not lost") {
      val (d, o) = perfect()
      val (f, r) = firstDelivering
      d.counts(f).set(r, 0)
      d.rejected.set(1)
      val v = Gate.check(m, d, o.copy(apiDlqIds = Seq(Gen.insertId(m.seed, f, r))))
      v.ok && v.apiDlq == 1
    }
    check("an API DLQ that disagrees with the endpoint's 4xx answers fails the gate") {
      val (d, o) = perfect()
      d.rejected.set(3)
      val v = Gate.check(m, d, o)
      !v.ok && v.errors.exists(_.contains("rejected 3 events"))
    }
    check("a foreign duplicate fails the gate") {
      val (d, o) = perfect()
      d.noteForeign("s7f999r1")
      d.noteForeign("s7f999r1")
      val v = Gate.check(m, d, o)
      !v.ok && v.errors.exists(_.contains("unknown insert ids"))
    }
    check("a delivered dead-letter row fails the gate, repeated or not") {
      val (d, o) = perfect()
      val (f, r) = (for (f <- m.files.indices; r <- 0 until m.files(f).rows
        if m.eligible(f) && !m.delivers(f, r)) yield (f, r)).head
      d.counts(f).set(r, 2)
      val v = Gate.check(m, d, o)
      !v.ok && v.errors.exists(_.contains("dead-letters"))
    }
    check("a wrong router count fails the gate") {
      val (d, o) = perfect()
      val v = Gate.check(m, d, o.copy(routed = Some(m.matched.updated("a", m.matched("a") + 1))))
      !v.ok && v.errors.exists(_.contains("router matched"))
    }
    check("a wrong unmatched count fails the gate") {
      val (d, o) = perfect()
      !Gate.check(m, d, o.copy(unmatched = Some(m.unmatched + 1))).ok
    }
    check("a transform DLQ row under the wrong error type fails the gate") {
      val (d, o) = perfect()
      val moved = o.dlqByType.get.toSeq.map { case ((c, t), n) =>
        (c, if (t == "missing_required_field") "critical_transformation_error" else t) -> n }.toMap
      !Gate.check(m, d, o.copy(dlqByType = Some(moved))).ok
    }
    check("a wire-shape violation fails the gate") {
      val (d, o) = perfect()
      d.wireError("missing gzip Content-Encoding")
      !Gate.check(m, d, o).ok
    }
    check("insert ids parse back to (file, row) and nothing else") {
      val d = new Delivery(m)
      d.locate(Gen.insertId(m.seed, 2, 49)) == (2, 49) && d.locate("s7f2r50") == null &&
        d.locate("s8f2r1") == null && d.locate(null) == null &&
        Endpoint.insertId("""{"event":"e","properties":{"$insert_id":"s7f0r3","time":1}}""") == "s7f0r3"
    }
    println(if (failures == 0) "all gate tests passed" else s"$failures gate tests FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
