package graft

import org.apache.spark.sql.functions._

/** [[functions.SqlRegistry]]: the pure-SQL surface must produce the
  * same results (and the same plan shapes) as the Column API. */
class SqlRegistrySpec extends SparkSpec {
  import spark.implicits._

  functions.SqlRegistry.install(spark)

  test("bounded aggregates are SQL-callable and match the Column API") {
    val df = spark.range(100).select(($"id" % 7).as("k"), $"id")
    df.createOrReplaceTempView("t_sqlreg")
    val viaSql = spark.sql(
      "SELECT k, bounded_min_ids(id, id, 3) AS ids FROM t_sqlreg GROUP BY k")
      .orderBy($"k").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toSeq
    val viaCol = df.groupBy($"k")
      .agg(functions.BoundedMinIds.boundedMinIds($"id", $"id", 3).as("ids"))
      .orderBy($"k").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toSeq
    assert(viaSql == viaCol)
    val pairs = spark.sql(
      "SELECT bounded_max_long_pairs(id * 2, id, 2) AS ps FROM t_sqlreg")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((198L, 99L), (196L, 98L)))
  }

  test("kmv_min_hashes via SQL equals the Column API sketch") {
    val df = spark.range(1000)
      .select(operators.Sampling.portableHash48($"id".cast("string")).as("h"))
    df.createOrReplaceTempView("t_kmv")
    val viaSql = spark.sql("SELECT kmv_min_hashes(h, 32) FROM t_kmv")
      .head().getSeq[Long](0).toSeq
    val viaCol = df.agg(functions.KmvMinHashes.kmvMinHashes($"h", 32))
      .head().getSeq[Long](0).toSeq
    assert(viaSql == viaCol && viaSql.length == 32)
  }

  test("scalar kernels: word_shingles, jaccard_sim, simhash, vec_dot") {
    val r = spark.sql(
      "SELECT word_shingles('a b c d', 2) AS sh, " +
        "jaccard_sim(array('1', '2', '3'), array('2', '3', '4')) AS j, " +
        "simhash96_portable(array('x', 'y')) AS s96, " +
        "minhash_sig(array('x', 'y'), 8) AS mh, " +
        "dot_product(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "            array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .head()
    assert(r.getSeq[String](0) == Seq("a b", "b c", "c d"))
    assert(r.getDouble(1) == 0.5)
    assert(r.getSeq[Long](2).length == 2)
    assert(r.getSeq[Long](3).length == 8)
    assert(r.getDouble(4) == 11.0)
  }

  test("non-literal bound arguments fail analysis loudly") {
    spark.range(10).toDF("id").createOrReplaceTempView("t_badarg")
    val e = intercept[Exception] {
      spark.sql(
        "SELECT bounded_min_ids(id, id, CAST(id AS INT)) FROM t_badarg " +
          "GROUP BY id % 2").collect()
    }
    assert(e.getMessage.contains("INTEGER LITERAL"),
      s"unexpected failure mode: ${e.getMessage}")
  }

  test("the SQL surface is EXACTLY SqlRegistry.functions — the " +
      "deliberate non-registrations (Bloom membership, perceptual " +
      "hash) stay Column-API-only as documented") {
    val registry = spark.sessionState.functionRegistry
    val declared = functions.SqlRegistry.functions.map(_._1).toSet
    // every declared name resolves after install
    declared.foreach { name =>
      assert(registry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)),
        s"declared SQL function '$name' not registered")
    }
    // the documented Column-API-only kernels must NOT acquire SQL
    // names by accident — their design rationale lives in the
    // SqlRegistry scaladoc; registering one is a contract change that
    // should have to come HERE first
    Seq("bloom_might_contain", "might_contain", "perceptual_hash",
        "phash", "phash64", "cms_estimate", "count_min").foreach { name =>
      assert(!registry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)),
        s"'$name' is registered but documented as Column-API-only")
    }
    // Bloom's SQL story is that its generated plan IS builtins: the
    // membership predicate compiles to element_at/shift/mask with the
    // words array as a literal — provably reachable from a pure-SQL
    // session with no custom function involved
    val filter = operators.Bloom.Filter(Array.fill(16)(-1L), 3)
    val pred = operators.Bloom.mightContain(lit(42L), filter)
    val all = spark.range(1).select(pred.as("hit")).head().getBoolean(0)
    assert(all, "an all-ones filter must report containment")
  }

  test("SQL-path aggregate still plans map-side Partial mode") {
    val plan = spark.sql(
      "SELECT k, bounded_min_ids(id, id, 3) FROM " +
        "(SELECT id % 7 AS k, id FROM range(1000)) GROUP BY k")
      .queryExecution.sparkPlan
    val partial = plan.collectWithSubqueries {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.aggregateExpressions.exists(e =>
          e.aggregateFunction.prettyName.startsWith("bounded_") &&
            e.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial) =>
        a.nodeName
    }
    assert(partial.nonEmpty, s"no Partial bounded aggregate:\n$plan")
  }
}
