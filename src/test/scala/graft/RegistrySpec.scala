package graft

/** Consistency of the declared contract surface itself — the failure
  * modes here are silent (a duplicate key across operator packs shadows
  * an implementation) so they get explicit guards. */
class RegistrySpec extends SparkSpec {

  test("no key is declared by two operator packs (silent shadowing)") {
    // within a pack as well as across packs
    val keys = SparkEntry.declared.map(_.key)
    assert(keys.diff(keys.distinct).isEmpty,
      s"keys declared twice: ${keys.diff(keys.distinct)}")
    assert(keys.size === 369)
    assert(SparkEntry.queries.size === keys.size)
  }

  test("deriving the registry throws on a duplicated declaration") {
    val q = SparkEntry.declared.head
    val e = intercept[IllegalArgumentException](
      Query.byKey(SparkEntry.declared :+ q))
    assert(e.getMessage.contains(q.key))
  }

  test("declared artifact names are unique") {
    // Bench's warmup_sec map is keyed by artifact name
    val names = Caches.declared.map(_.name)
    assert(names.distinct.size === names.size,
      s"artifact names declared twice: ${names.diff(names.distinct)}")
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
