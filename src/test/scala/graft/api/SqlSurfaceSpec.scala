package graft.api

import graft.SparkTestBase
import graft.api.{functions => gf}
import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.functions._

/** SQL surface: smoke queries run most registered functions over real
  * tables and check sane values; table-driven tests cover every registered
  * name's argument counts, the functions taking three arguments against the
  * DSL, and the size parameters of the five sketch add aggregates. */
class SqlSurfaceSpec extends SparkTestBase {

  private def views(): Unit = {
    spark.read.parquet(sf("lineitem")).createOrReplaceTempView("li")
    spark.read.parquet(sf("documents")).createOrReplaceTempView("docs")
    spark.read.parquet(sf("embeddings")).createOrReplaceTempView("emb")
  }

  private def one(sql: String): org.apache.spark.sql.Row = { views(); spark.sql(sql).head() }

  private def analysisError(sql: String): AnalysisException = {
    views()
    intercept[AnalysisException](spark.sql(sql))
  }

  test("every registered function is callable from SQL") {
    // aggregates + finishers over one pass
    val r1 = one("""
      SELECT tdigest_quantile(tdigest(l_quantity), 0.5d) p50,
             tdigest_quantiles(tdigest(l_quantity), array(0.25d, 0.75d)) qs,
             tdigest_cdf(tdigest(l_quantity), 25.0d) c,
             tdigest_cdfs(tdigest(l_quantity), array(10.0d, 40.0d)) cs,
             tdigest_histogram(tdigest(l_quantity), 5) h,
             tdigest_histogram_at(tdigest(l_quantity), array(0.0d, 25.0d, 51.0d)) ha,
             tdigest_size(tdigest(l_quantity)) n,
             tdigest_min(tdigest(l_quantity)) mn,
             tdigest_max(tdigest(l_quantity)) mx,
             tdigest_size(tdigest_scale(tdigest(l_quantity), 2.0d)) n2,
             size(tdigest_centroids(tdigest(l_quantity))) nc,
             summary_stats(l_quantity).count sc,
             ss_size(ss_topk_agg(l_partkey)) sz,
             ss_capacity(ss_topk_agg(l_partkey, 1L, 77)) cap,
             ss_topk(ss_topk_agg(l_partkey, 1L, 50), 3) tk
      FROM li""")
    assert(r1.getDouble(0) > 0 && r1.getDouble(6) == 6000.0)
    assert(r1.getDouble(9) == 12000.0) // scaled weight
    assert(r1.getLong(11) == 6000L && r1.getInt(12) > 0)
    assert(r1.getInt(13) == 77)

    // merge aggs over subquery sketches
    val r2 = one("""
      SELECT tdigest_size(tdigest_merge_agg(d)) n,
             ss_size(ss_merge_agg(sk)) sz,
             stats_merge_agg(st).count c
      FROM (SELECT l_returnflag, tdigest(l_quantity) d,
                   ss_topk_agg(l_partkey, 1L, 100) sk,
                   summary_stats(l_quantity) st
            FROM li GROUP BY l_returnflag)""")
    assert(r2.getDouble(0) == 6000.0 && r2.getLong(2) == 6000L)

    // text + vector functions
    val r3 = one("""
      SELECT token_count(text) tc, lang_id(text) lid,
             text_stats(text).n_tokens nt,
             doc_fingerprint(text, 16) fp,
             minhash_signature(text, 2, 16, 42L) sig,
             simhash64(text, 2) sh,
             ngram_jaccard(text, text, 2) jac
      FROM docs LIMIT 1""")
    assert(r3.getInt(0) > 0 && r3.getInt(2) == r3.getInt(0))
    assert(r3.getSeq[Long](4).length == 16)
    assert(r3.getDouble(6) == 1.0) // self-jaccard

    val r4 = one("""
      SELECT vec_dot(embedding, embedding) d,
             vec_cosine(embedding, embedding) c,
             vec_norm(embedding) n,
             srp_signature(embedding, 16, 42L) sig
      FROM emb LIMIT 1""")
    assert(math.abs(r4.getDouble(1) - 1.0) < 1e-9)
    assert(math.abs(math.sqrt(r4.getDouble(0)) - r4.getDouble(2)) < 1e-9)

    // text/web compositions registered for SQL
    val r5 = one("""
      SELECT strip_html('<p>a &amp; b</p><script>x()</script>') s,
             char_grams('abcd', 3) g,
             registrable_domain('www.shop.co.uk') d""")
    assert(r5.getString(0) == "a & b")
    assert(r5.getSeq[String](1).toList == List("abc", "bcd"))
    assert(r5.getString(2) == "shop.co.uk")
  }

  test("gram_agg callable from SQL; terms match exact_sum of the parts") {
    val r = one("""
      SELECT g.n, size(g.terms) nt,
             filter(g.terms, t -> t.i = 0 AND t.j = -1)[0].s s0,
             filter(g.terms, t -> t.i = 0 AND t.j = 1)[0].s p01
      FROM (SELECT gram_agg(array(cast(l_quantity AS double),
                                  cast(l_discount AS double))) g FROM li)""")
    assert(r.getLong(0) == 6000L && r.getInt(1) == 2 + 3)
    val ref = one("""SELECT exact_sum(cast(l_quantity AS double)),
      exact_sum(cast(l_quantity AS double) * cast(l_discount AS double))
      FROM li""")
    assert(r.getDouble(2) == ref.getDouble(0))
    assert(r.getDouble(3) == ref.getDouble(1))
  }

  test("stats finishers callable from SQL with variant args") {
    val r = one("""
      SELECT stats_mean(summary_stats(l_quantity)) m,
             stats_var(summary_stats(l_quantity), 1) v1,
             stats_std(summary_stats(l_quantity)) s0,
             stats_skew(summary_stats(l_quantity), false) sk,
             stats_kurt(summary_stats(l_quantity), false, false) ku
      FROM li""")
    val b = spark.sql(
      "SELECT avg(l_quantity), var_samp(l_quantity), stddev_pop(l_quantity) FROM li").head()
    assert(math.abs(r.getDouble(0) - b.getDouble(0)) < 1e-9)
    assert(math.abs(r.getDouble(1) - b.getDouble(1)) < 1e-6)
    assert(math.abs(r.getDouble(2) - b.getDouble(2)) < 1e-6)
    assert(!r.isNullAt(3) && !r.isNullAt(4))
    // an option must be a non-null constant, not an NPE in the builder
    for ((call, option) <- Seq("stats_var(summary_stats(l_quantity), CAST(NULL AS INT))" -> "ddof",
        "stats_kurt(summary_stats(l_quantity), true, CAST(NULL AS BOOLEAN))" -> "bias")) {
      val e = intercept[IllegalArgumentException](one(s"SELECT $call FROM li"))
      assert(e.getMessage.endsWith(s"$option must be a non-null constant"), call)
    }
  }

  test("single-row group: var_samp yields Inf/NaN (IEEE), not ANSI error") {
    import graft.api.{functions => gf}
    import org.apache.spark.sql.functions._
    val df = spark.range(3).selectExpr("id as g", "cast(id as double) as x")
    val r = df.groupBy("g").agg(gf.summary_stats(col("x")).as("st"))
      .select(col("g"), gf.stats_var(col("st"), 1).as("v"))
      .orderBy("g").collect()
    // one row per group: m2 == 0, denom == 0 → 0 * (1/0) = NaN (C semantics)
    r.foreach(row => assert(row.getDouble(1).isNaN))
    val sqlR = one(
      "SELECT stats_var(summary_stats(l_quantity), 6000) v FROM li").getDouble(0)
    assert(sqlR.isInfinite || sqlR.isNaN) // count == ddof boundary via SQL too
  }

  test("ss_topk variant mismatch names the right function") {
    val e = intercept[Exception](one(
      "SELECT ss_topk_double(ss_topk_agg(l_partkey, 1L, 10), 3) FROM li"))
    val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msg.contains("bigint") && msg.contains("matching ss_topk variant"), msg)
  }

  test("corrupt sketch bytes produce clear errors") {
    def msgOf(sql: String): String = {
      val e = intercept[Exception](one(sql))
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    }
    assert(msgOf("SELECT tdigest_quantile(cast('junk' as binary), 0.5d)")
      .contains("not a t-digest sketch"))
    assert(msgOf("SELECT ss_topk(cast('garbagebytes' as binary), 3)")
      .contains("not a space-saving sketch"))
  }

  test("every registered name: a count its builder lacks is WRONG_NUM_ARGS listing the counts") {
    val derived = GraftFunctions.builders.map { case (n, b) => n -> GraftFunctions.arities(b) }.toMap
    // the counts the builders' patterns declare, spot-checked by hand
    Map("winnow_fingerprints" -> Seq(3), "gram_overlap_counts" -> Seq(3),
      "char_gram_overlap_counts" -> Seq(3), "minhash_signature" -> Seq(4),
      "tdigest" -> Seq(1, 2, 3), "ss_topk_agg" -> Seq(1, 2, 3), "cms_agg" -> Seq(1, 3),
      "stats_kurt" -> Seq(1, 2, 3), "tdigest_merge_agg" -> Seq(1), "hll_union" -> Seq(2)
    ).foreach { case (n, want) => assert(derived(n) == want, n) }
    for ((name, ok) <- derived) {
      assert(ok.nonEmpty, name)
      for (n <- (0 to ok.max + 1).filterNot(ok.contains)) {
        val e = analysisError(s"SELECT $name(${Seq.fill(n)("1").mkString(", ")})")
        assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), s"$name/$n: ${e.getMessage}")
        assert(e.getMessageParameters.get("actualNum") == n.toString, s"$name/$n")
        val listed = e.getMessageParameters.get("expectedNum")
        assert(listed == (if (ok.size == 1) ok.head.toString else ok.mkString("[", ", ", "]")),
          s"$name/$n: $listed")
      }
    }
  }

  test("functions taking three arguments give the same rows from SQL as from the DSL") {
    val docs = spark.read.parquet(sf("documents")).withColumn("cand", lower(col("text")))
    docs.createOrReplaceTempView("docs3")
    val cases: Seq[(String, Column)] = Seq(
      "winnow_fingerprints(text, 8, 4)" -> gf.winnow_fingerprints(col("text"), 8, 4),
      "gram_overlap_counts(text, cand, 4)" -> gf.gram_overlap_counts(col("text"), col("cand"), 4),
      "char_gram_overlap_counts(text, cand, 4)" ->
        gf.char_gram_overlap_counts(col("text"), col("cand"), 4))
    for ((sql, dsl) <- cases) {
      val viaSql = spark.sql(s"SELECT doc_id, $sql FROM docs3 ORDER BY doc_id").collect().toSeq
      val viaDsl = docs.select(col("doc_id"), dsl).orderBy("doc_id").collect().toSeq
      assert(viaSql.size == 500 && viaSql == viaDsl, sql)
    }
  }

  test("size parameters of the add aggregates must be non-null constants, checked at analysis") {
    Seq(
      "tdigest(l_quantity, 1.0, CAST(NULL AS DOUBLE))" -> "compression",
      "tdigest(l_quantity, 1.0, l_quantity)" -> "compression",
      "ss_topk_agg(l_partkey, 1L, CAST(NULL AS INT))" -> "capacity",
      "ss_topk_agg(l_partkey, 1L, l_linenumber)" -> "capacity",
      "hll_agg(l_partkey, CAST(NULL AS INT))" -> "p",
      "kmv_agg(l_partkey, CAST(NULL AS INT))" -> "k",
      "kmv_agg(l_partkey, l_linenumber)" -> "k",
      "cms_agg(l_partkey, CAST(NULL AS INT), 64)" -> "depth",
      "cms_agg(l_partkey, 4, CAST(NULL AS INT))" -> "width"
    ).foreach { case (call, param) =>
      val e = analysisError(s"SELECT $call FROM li")
      assert(e.getMessage.contains(s"$param must be a non-null constant"), s"$call: ${e.getMessage}")
    }
  }
}
