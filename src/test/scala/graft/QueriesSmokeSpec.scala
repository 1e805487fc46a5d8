package graft

/** Every SparkEntry query runs at sf0.001 and produces a sane frame; the
  * flagship entry returns rows (the driver's smoke check). */
class QueriesSmokeSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query executes at sf0.001 under STRICT codegen") {
    // fallback=false turns any whole-stage-codegen compile failure into a
    // hard error instead of a silent interpreted fallback — the PQ family
    // ran interpreted for five rounds because nothing watched for this
    // (janino method-size blowup from literal codebook expansion)
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val failures = SparkEntry.queries.flatMap { case (name, fn) =>
        try {
          // noop write materializes EVERY output column — count() would let
          // Catalyst prune the computed columns and their codegen with them
          fn(spark, sf0001).write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
      }
      assert(failures.isEmpty, failures.mkString("\n"))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("named selects in name order, all for no names, and lists every unknown name") {
    assert(SparkEntry.named(Nil).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.named(Seq("tx_match", "hot_items_topn")).map(_._1) ==
      Seq("hot_items_topn", "tx_match"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.named(Seq("hot_items_topn", "hot_itmes_topn", "tx_macth")))
    assert(e.getMessage.contains("unknown queries: hot_itmes_topn, tx_macth"), e.getMessage)
  }

  test("the mains' JSON strings round-trip through a JSON parser") {
    val s = "q\"uote back\\slash new\nline\ttab \u0001 µ"
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Verify.jsonString(s), classOf[String])
    assert(parsed == s)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }
}
