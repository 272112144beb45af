package graft

/** Consistency of the declared contract surface itself — the failure
  * modes here are silent (a duplicate key across operator packs shadows
  * an implementation; a renamed key quietly drops out of the plan
  * audit) so they get explicit guards. */
class RegistrySpec extends SparkSpec {

  test("no key is declared by two operator packs (silent shadowing)") {
    val packs = Seq(
      "RelationalOps" -> operators.RelationalOps.queries.keySet,
      "ScalarOps" -> operators.ScalarOps.queries.keySet,
      "EventOps" -> operators.EventOps.queries.keySet,
      "TextOps" -> operators.TextOps.queries.keySet,
      "VectorOps" -> operators.VectorOps.queries.keySet,
      "FunctionOps" -> operators.FunctionOps.queries.keySet,
      "DedupOps" -> operators.DedupOps.queries.keySet,
      "GraphOps" -> operators.GraphOps.queries.keySet,
      "StatsOps" -> operators.StatsOps.queries.keySet,
      "MultimodalOps" -> operators.MultimodalOps.queries.keySet)
    val all = packs.flatMap { case (p, ks) => ks.map(_ -> p) }
    val dups = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty, s"keys declared twice: ${dups.map {
      case (k, ps) => s"$k in ${ps.map(_._2).mkString("+")}" }}")
    assert(all.size === SparkEntry.queries.size)
  }

  test("declared artifact names are unique") {
    // Bench's warmup_sec map is keyed by artifact name
    val names = Caches.declared.map(_.name)
    assert(names.distinct.size === names.size,
      s"artifact names declared twice: ${names.diff(names.distinct)}")
  }

  test("plan-audit keys exist in the query registry") {
    ExplainAudit.audited.foreach(k =>
      assert(SparkEntry.queries.contains(k), s"audited key $k missing"))
  }

  test("every oracle key has rounded floats or integer/string columns only") {
    // structural guard: oracle SQL that uses round() instead of the
    // floor(x*scale+0.5)/scale parity form diverges at .5 boundaries
    // (SURVEY.md §5.3); ROUND( should never appear
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(!sql.toLowerCase.matches("(?s).*\\bround\\s*\\(.*"),
        s"$k oracle uses round() — use the floor parity form")
    }
  }
}
