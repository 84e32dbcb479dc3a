package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Exercises the `SparkSessionExtensions` deployment path: a session
  * built with `.withExtensions(new GraftExtensions)` (the
  * `spark.sql.extensions` config route) must expose every graft
  * native function to PURE SQL — no GraftFunctions.register call —
  * which is how a spark-submit user with only the jar on the
  * classpath runs the operators. */
class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions exposes every native function to a SQL-only session") {
    // getOrCreate reuses an active session and IGNORES extensions, so
    // clear, build fresh (same SparkContext), and restore afterwards
    val old = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    try {
      val r = s2.sql(
        """SELECT
             graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
                          array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cos,
             size(graft_shingle_hashes(array('a','b','c'), 2)) AS sh,
             size(graft_span_pos_hashes(array('a','b','c','d'), 2)) AS sp,
             size(graft_rolling_span_hashes(array('a','b','c','d'), 2)) AS rs,
             size(graft_minhash_bands(graft_shingle_hashes(array('a','b','c'), 2), 8, 4)) AS mb,
             graft_simhash(array('x','y')) AS simh,
             size(graft_hyperplane_buckets(array_repeat(CAST(0.5 AS FLOAT), 64), 42L, 2, 4, 64)) AS hb,
             size(graft_hash_embed(array('x','y'), 16, 42L)) AS he,
             size(graft_cdc_hashes(CAST('abcdef' AS BINARY), 2, 3)) AS cdc,
             graft_byte_entropy(CAST('abab' AS BINARY)) AS ent,
             graft_blockhash(CAST('abab' AS BINARY)) AS bmh,
             graft_hamming(graft_signbits(array(CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT))),
                           graft_signbits(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)))) AS ham
        """).head()
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
      assert(r.getInt(1) == 2, "two overlapping 2-shingles of 3 tokens")
      assert(r.getInt(2) == 2, "two positional spans of 4 tokens at stride 2")
      assert(r.getInt(3) == 3, "three rolling 2-windows of 4 tokens at stride 1")
      assert(r.getInt(4) == 4, "one hash per band")
      assert(r.getLong(5) != 0L)
      assert(r.getInt(6) == 2, "one bucket per table")
      assert(r.getInt(7) == 16, "hash-embed vector has the requested dim")
      assert(r.getInt(8) >= 1, "cdc chunking emits at least the tail chunk")
      assert(r.getDouble(9) == 1.0, "two equiprobable byte symbols = exactly 1 bit")
      assert(r.getLong(10) == graft.functions.BlockMeanHash.compute(
        "abab".getBytes("UTF-8")), "blockhash matches the compiled compute")
      assert(r.getInt(11) == 1, "sign patterns (1,0) vs (1,1) differ in one bit")
    } finally {
      s2.catalog.clearCache()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      old.foreach(SparkSession.setDefaultSession)
      old.foreach(SparkSession.setActiveSession)
    }
  }

  test("every function register adds to a plain session resolves in a SQL-only extensions session") {
    val old = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    // a fresh session state: builtin functions only
    val plain = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .getOrCreate().newSession()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    try {
      val before = plain.sessionState.functionRegistry.listFunction().toSet
      graft.functions.GraftFunctions.register(plain)
      val added = plain.sessionState.functionRegistry.listFunction().toSet -- before
      assert(added.size == 15, s"got ${added.map(_.funcName).toSeq.sorted}")
      val missing = added.filterNot(f => s2.sessionState.functionRegistry.functionExists(f))
      assert(missing.isEmpty, s"not injected: ${missing.map(_.funcName)}")
      // and each resolves through SQL itself, not only in the registry
      added.foreach(f => assert(s2.catalog.functionExists(f.funcName), f.funcName))
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      old.foreach(SparkSession.setDefaultSession)
      old.foreach(SparkSession.setActiveSession)
    }
  }
}
