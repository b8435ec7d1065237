package graft.perfbench

/** What the program reported or wrote in one epoch, gathered for the gate.
  * `routed`/`unmatched`/`readErrors` are the router counters (absent for
  * streaming, which has none); `counters` holds each config's transform
  * counters; `dlqByType` is the transform DLQ counted by
  * (config_id, error_type) when it was read back; `apiDlqIds` are the
  * insert ids of the API DLQ payloads; `imported` is the set a batch run
  * reports as transformed (what a ledger may record). */
final case class Observed(
    routed: Option[Map[String, Long]],
    unmatched: Option[Long],
    readErrors: Option[Map[String, Long]],
    counters: Map[String, Map[String, Long]],
    dlqByType: Option[Map[(String, String), Long]],
    apiDlqIds: Seq[String],
    imported: Option[Set[String]])

final case class Verdict(errors: Seq[String], reposts: Long, delivered: Long,
    apiDlq: Long, transformDlq: Long) {
  def ok: Boolean = errors.isEmpty
}

/** Correctness gate of one epoch. Per config, input rows must equal
  * distinct delivered + transform DLQ (by the planted error type) + API
  * DLQ, with no row lost. A row delivered more than once is a repost —
  * delivery is at-least-once and the import endpoint dedups by
  * `$insert_id` — so it is counted, not failed. Any delivery of an id the
  * manifest does not expect to deliver (an unknown id, a dead-lettered
  * row, a row of an unrouted file) is foreign and fails the gate, once or
  * repeated. The API DLQ must hold as many rows as the endpoint answered
  * events with a 4xx. Router and transform counters must equal the
  * manifest. */
object Gate {
  private def nz(m: Map[String, Long]): Map[String, Long] = m.filter(_._2 != 0)

  def check(m: Manifest, d: Delivery, o: Observed): Verdict = {
    val errors = Vector.newBuilder[String]
    def expectEq[T](what: String, got: T, want: T): Unit =
      if (got != want) errors += s"$what: got $got, want $want"

    if (d.wireErrors.get > 0)
      errors += s"${d.wireErrors.get} wire-shape violations, e.g. ${d.wireMessages.peek()}"
    o.routed.foreach(r => expectEq("router matched", nz(r), nz(m.matched)))
    o.unmatched.foreach(u => expectEq("router unmatched", u, m.unmatched))
    o.readErrors.foreach(r => expectEq("read errors", nz(r), nz(m.readErrors)))
    o.imported.foreach(i => expectEq("imported files", i, m.imported.toSet))

    val dlqWant = m.expected.toSeq.flatMap { case (c, e) => e.dlq.map { case (t, n) => (c, t) -> n } }
      .filter(_._2 != 0).toMap
    o.dlqByType.foreach(got => expectEq("transform DLQ by (config, error_type)",
      got.filter(_._2 != 0), dlqWant))
    m.expected.foreach { case (c, e) =>
      val got = o.counters.getOrElse(c, Map.empty[String, Long]).withDefaultValue(0L)
      expectEq(s"$c n_rows", got("n_rows"), e.rows)
      expectEq(s"$c n_dlq", got("n_dlq"), e.dlq.values.sum)
      expectEq(s"$c ts_parse_errors", got("ts_parse_errors"), e.tsParseErrors)
      expectEq(s"$c missing_distinct_id", got("missing_distinct_id"), e.missingDistinctId)
    }

    val apiDlq = scala.collection.mutable.HashSet.empty[Long]
    var foreignApi = 0L
    o.apiDlqIds.foreach { id =>
      val at = d.locate(id)
      if (at == null || !m.delivers(at._1, at._2)) foreignApi += 1
      else apiDlq += (at._1.toLong << 32 | at._2)
    }
    if (foreignApi > 0) errors += s"$foreignApi API DLQ rows the manifest never delivers"
    if (o.apiDlqIds.size != d.rejected.get)
      errors += s"API DLQ holds ${o.apiDlqIds.size} rows, but the endpoint rejected " +
        s"${d.rejected.get} events with a 4xx"

    var lost = 0L; var wrong = 0L; var reposts = 0L; var apiOnly = 0L
    val delivered = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val apiByCfg = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var example: String = null
    m.files.indices.foreach { f =>
      val cfg = m.route(f).map(_.id).orNull
      val counts = d.counts(f)
      var r = 0
      while (r < m.files(f).rows) {
        val c = counts.get(r)
        if (m.delivers(f, r)) {
          if (c > 0) { delivered(cfg) += 1; reposts += c - 1 }
          else if (apiDlq.contains(f.toLong << 32 | r)) { apiOnly += 1; apiByCfg(cfg) += 1 }
          else {
            lost += 1
            if (example == null) example = Gen.insertId(m.seed, f, r)
          }
        } else if (c > 0) wrong += c
        r += 1
      }
    }
    if (lost > 0) errors += s"$lost events lost (neither delivered nor dead-lettered), e.g. $example"
    if (wrong > 0) errors += s"$wrong deliveries of rows the manifest dead-letters or never routes"
    if (d.foreign.get > 0)
      errors += s"${d.foreign.get} deliveries of unknown insert ids, e.g. ${d.foreignIds.peek()}"
    m.expected.foreach { case (c, e) =>
      val acc = delivered(c) + e.dlq.values.sum + apiByCfg(c)
      if (acc != e.rows)
        errors += s"$c: ${e.rows} rows in, but delivered ${delivered(c)} + " +
          s"transform DLQ ${e.dlq.values.sum} + API DLQ ${apiByCfg(c)} = $acc"
    }
    Verdict(errors.result(), reposts, delivered.values.sum, apiOnly,
      m.expected.values.map(_.dlq.values.sum).sum)
  }
}
