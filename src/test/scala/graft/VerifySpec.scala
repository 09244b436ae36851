package graft

/** oracle_sql.json as [[Verify]] writes it: a query-name filter
  * selects the twins written, so the oracle gate over a filtered run
  * reads only the keys that ran.
  */
class VerifySpec extends SparkSpec {

  // keys of the escaped JSON object: inside a value every quote is
  // escaped, so `[{,]"` only ever opens a key
  private def keysOf(json: String): Set[String] =
    "[{,]\"([^\"\\\\]+)\": \"".r.findAllMatchIn(json).map(_.group(1)).toSet

  test("a filtered Verify writes only the selected keys' twins") {
    OracleArtifacts.clear()
    SparkEntry.queries("ann_probe")(spark, sf)
    val keys = keysOf(Verify.oracleJson(Some(Set("knn_topk", "ann_probe", "ann_deleted", "no_such_key"))))
    // ann_deleted did not run, but its fit did: a selected key keeps the
    // twin of a captured fit, so a failed run still fails the gate
    assert(keys == Set("knn_topk", "ann_probe", "ann_deleted"))
  }

  test("an unfiltered Verify writes every twin") {
    assert(keysOf(Verify.oracleJson(None)) == SparkEntry.oracleSql.keySet)
  }
}
