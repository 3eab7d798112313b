package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SPARK_GRAFT_EXTRA_CONF parser behind every session: blank
  * segments skip, missing '=' fails loudly (the r13 advice item — the
  * old inline `val Array(k, v) = ...` threw an opaque MatchError), and
  * the state-store seam resolves provider names.
  */
class ExtraConfSpec extends AnyFunSuite {

  private def parsed(v: String): Seq[(String, String)] =
    ExtraConf(Map("SPARK_GRAFT_EXTRA_CONF" -> v))

  test("blank segments from doubled/trailing semicolons are skipped") {
    // must not throw (the old parser MatchError'd on the empty segment)
    assert(parsed("a=1;;b=2;") == Seq("a" -> "1", "b" -> "2"))
    assert(parsed(";").isEmpty)
    assert(parsed("").isEmpty)
  }

  test("a segment without '=' fails with an explicit message") {
    val e = intercept[RuntimeException](parsed("a=1;oops;b=2"))
    assert(e.getMessage.contains("oops"))
    assert(e.getMessage.contains("SPARK_GRAFT_EXTRA_CONF"))
  }

  test("values may themselves contain '=' (split at the first only)") {
    assert(parsed("spark.x.y=k=v") == Seq("spark.x.y" -> "k=v"))
  }

  test("empty key ('=v') and empty value ('a=') fail loudly") {
    val ek = intercept[RuntimeException](parsed("=v"))
    assert(ek.getMessage.contains("SPARK_GRAFT_EXTRA_CONF"))
    val ev = intercept[RuntimeException](parsed("a=1;b="))
    assert(ev.getMessage.contains("b="))
  }

  test("state-store seam: rocksdb selects the RocksDB provider, default is hdfs") {
    val provider = "spark.sql.streaming.stateStore.providerClass"
    // hdfs is Spark's default provider: nothing to set
    assert(ExtraConf.stateStore(Map.empty).isEmpty)
    assert(ExtraConf.stateStore(Map("SPARK_GRAFT_STATE_STORE" -> "hdfs")).isEmpty)
    for (v <- Seq("rocksdb", "ROCKSDB"))
      assert(ExtraConf.stateStore(Map("SPARK_GRAFT_STATE_STORE" -> v))(provider)
        .endsWith("RocksDBStateStoreProvider"), v)
  }

  test("state-store seam: a typo fails loudly instead of mislabeling") {
    val e = intercept[RuntimeException](ExtraConf.stateStore(
      Map("SPARK_GRAFT_STATE_STORE" -> "rocksbd")))
    assert(e.getMessage.contains("rocksbd"))
  }
}
