package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftvec.GraftExtensions
import org.apache.spark.sql.types._

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
      "envelope_parse", "envelope_marshal_bin", "envelope_parse_bin", "media_stats", "pq_adc")
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

    // each function's resolved result type, nullability and
    // auto-generated column name over non-null literal arguments:
    // nullable here means the kernel itself can return null
    val decoded = StructType.fromDDL("uuid string, payload binary, headers map<string, string>")
    val pinned = Seq(
      ("vec_dot(array(1d), array(2d))", DoubleType, false, "vec_dot(array(1.0), array(2.0))"),
      ("km_minhash('a b c', 2, 4)", ArrayType(LongType, containsNull = false), true,
        "km_minhash(a b c)"),
      ("distinct_shingles('a b c', 2)", ArrayType(StringType, containsNull = false), false,
        "distinct_shingles(a b c)"),
      ("all_shingles('a b c', 2)", ArrayType(StringType, containsNull = false), false,
        "all_shingles(a b c)"),
      ("simhash16('a b c')", LongType, true, "simhash16(a b c)"),
      ("simhash_w('a b c', 24)", LongType, true, "simhash_w(a b c)"),
      ("cdc_chunks('a b c', 3)", ArrayType(LongType, containsNull = false), false,
        "cdc_chunks(a b c)"),
      ("hll_registers(5L, 4)", ArrayType(IntegerType, containsNull = false), false,
        "hll_registers(5)"),
      ("envelope_marshal('7', X'6869', map('k', 'v'))", StringType, false,
        "envelope_marshal(7, X'6869', map(k, v))"),
      ("envelope_parse('{}')", decoded, true, "envelope_parse({})"),
      ("envelope_marshal_bin('7', X'6869', map('k', 'v'))", BinaryType, false,
        "envelope_marshal_bin(7, X'6869', map(k, v))"),
      ("envelope_parse_bin(X'57')", decoded, true, "envelope_parse_bin(X'57')"),
      ("media_stats(X'424d')", StructType.fromDDL("container string, n_units bigint, " +
        "mean_signal double, rms double, peak double, mean_r double, mean_g double, " +
        "mean_b double, ok boolean"), true, "media_stats(X'424D')"),
      ("pq_adc(array(1, 0), array(0.5d, 2d, 4d, 8d))", DoubleType, false,
        "pq_adc(array(1, 0), array(0.5, 2.0, 4.0, 8.0))"))
    assert(pinned.map(_._1.takeWhile(_ != '(')).toSet == names)
    pinned.foreach { case (call, dataType, nullable, name) =>
      val f = fresh.sql(s"SELECT $call").schema.head
      assert((f.dataType, f.nullable, f.name) == ((dataType, nullable, name)), call)
    }

    // the two range checks fail while the call is built (SQL analysis
    // or the Column call), before any job
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" / ")
    Seq("simhash_w('a b', 40)" -> "simhash width must be in 1..32",
      "cdc_chunks('a b', 0)" -> "chunk divisor must be positive").foreach { case (call, why) =>
      assert(messages(intercept[Exception](fresh.sql(s"SELECT $call"))).contains(why), call)
    }
    // pq_adc sums lut[sub · 2 + code] in sub order: 2.0 + 4.0
    assert(fresh.sql("SELECT pq_adc(array(1, 0), array(0.5d, 2d, 4d, 8d))").head()
      .getDouble(0) == 6.0)
    // a code outside its sub's table, or a table that does not split
    // into one part per sub, fails the query by name
    Seq("pq_adc(array(2), array(1d, 2d))" -> "outside its 2-word table",
      "pq_adc(array(0, 0), array(1d, 2d, 3d))" -> "does not split into 2 subspaces")
      .foreach { case (call, why) =>
        assert(messages(intercept[Exception](fresh.sql(s"SELECT $call").collect())).contains(why), call)
      }
    // a wrong argument count fails by name, for the hand-written
    // builders as for the declared kernels
    Seq("vec_dot(array(1d), array(2d), array(3d))" -> "vec_dot takes 2 arguments",
      "hll_registers(5L, 4, 9)" -> "hll_registers takes 2 arguments",
      "vec_dot(array(1d))" -> "vec_dot takes 2 arguments",
      "pq_adc(array(0))" -> "pq_adc takes 2 arguments").foreach { case (call, why) =>
      assert(messages(intercept[Exception](fresh.sql(s"SELECT $call"))).contains(why), call)
    }
    intercept[IllegalArgumentException](graft.functions.TextHash.simHashW(col("t"), 40))
    intercept[IllegalArgumentException](graft.functions.TextHash.cdcChunks(col("t"), 0))
  }
}
