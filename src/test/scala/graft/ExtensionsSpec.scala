package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graftvec.GraftExtensions

class ExtensionsSpec extends SparkSuite {
  test("GraftExtensions wires vec_dot into a SparkSessionExtensions instance") {
    // builder-level behavior is covered functionally by FunctionsSpec's
    // SQL test; here we check the extension applies without error
    // (bad FunctionIdentifier/builder wiring throws at apply time)
    new GraftExtensions().apply(new SparkSessionExtensions)
  }

  test("every native SQL function resolves through the extension in a GraftSession session") {
    val names = Set("vec_dot", "km_minhash", "distinct_shingles", "all_shingles",
      "simhash16", "simhash_w", "cdc_chunks", "hll_registers", "envelope_marshal",
      "envelope_parse", "envelope_marshal_bin", "envelope_parse_bin", "media_stats")
    // a new session starts from the builtin registry plus the injected
    // extension functions only: temp functions that GraftFunctions
    // .register put on another session do not carry over
    val fresh = spark.newSession()
    names.foreach(n => assert(fresh.catalog.functionExists(n), n))
    val injected = fresh.catalog.listFunctions().collect()
      .filter(f => Option(f.className).exists(_.startsWith("org.apache.spark.sql.graftvec.")))
      .map(_.name).toSet
    assert(injected == names)
    assert(fresh.sql("SELECT vec_dot(array(1d, 2d), array(3d, 4d))").head.getDouble(0) == 11.0)
  }
}
