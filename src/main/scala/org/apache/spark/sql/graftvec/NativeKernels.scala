package org.apache.spark.sql.graftvec

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** One native kernel, declared once: its SQL name, the static method
  * of an `*Impl` object that computes it, the types of its column
  * arguments, how many int parameters follow them, its result type,
  * and whether the method itself can return null. `check` validates
  * the int parameters when a call is built, so a bad one fails from
  * the Column API and from SQL before any job runs. */
private[graftvec] final case class Kernel(
    name: String,
    impl: Class[_],
    method: String,
    inputTypes: Seq[DataType],
    intParams: Int,
    dataType: DataType,
    returnNullable: Boolean,
    check: Seq[Int] => Unit = _ => ()) {

  /** The call over builder arguments: column arguments first, then
    * the int parameters as integer literals ([[GraftFunctions.intArg]]). */
  def call(args: Seq[Expression]): Expression = {
    require(args.size == inputTypes.size + intParams,
      s"$name takes ${inputTypes.size + intParams} arguments")
    val (cols, ints) = args.splitAt(inputTypes.size)
    KernelCall(this, cols, ints.map(GraftFunctions.intArg))
  }
}

/** A call of a declared [[Kernel]]. Spark replaces it with a
  * `StaticInvoke` of the kernel's method before planning, and builds
  * both the interpreted and the generated-code path from that: one
  * static call per row either way. The int parameters stay
  * constructor values rather than children, so the call still names
  * its column `km_minhash(text)`. */
private[graftvec] case class KernelCall(kernel: Kernel, children: Seq[Expression], ints: Seq[Int])
  extends RuntimeReplaceable with ExpectsInputTypes {
  kernel.check(ints)

  override def inputTypes: Seq[AbstractDataType] = kernel.inputTypes
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = children.iterator ++ ints.iterator

  override lazy val replacement: Expression = StaticInvoke(kernel.impl, kernel.dataType,
    kernel.method, children ++ ints.map(Literal(_)),
    kernel.inputTypes ++ ints.map(_ => IntegerType), returnNullable = kernel.returnNullable)

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(children = c)
}

/** Every static-call kernel's declaration. */
private[graftvec] object NativeKernels {
  private val Text = Seq(StringType)
  private val LongArray = ArrayType(LongType, containsNull = false)
  private val StringArray = ArrayType(StringType, containsNull = false)
  private val Message = Seq(StringType, BinaryType, MapType(StringType, StringType))
  private val TextHash = TextHashImpl.getClass

  /** The struct `media_stats` returns per payload. */
  val MediaStatsType: StructType = StructType(Seq(
    StructField("container", StringType),
    StructField("n_units", LongType),
    StructField("mean_signal", DoubleType),
    StructField("rms", DoubleType),
    StructField("peak", DoubleType),
    StructField("mean_r", DoubleType),
    StructField("mean_g", DoubleType),
    StructField("mean_b", DoubleType),
    StructField("ok", BooleanType)))

  /** The kernels registered for SQL. */
  val registered: Seq[Kernel] = Seq(
    Kernel("km_minhash", TextHash, "kmMinHash", Text, 2, LongArray, returnNullable = true),
    Kernel("distinct_shingles", TextHash, "distinctShingles", Text, 1, StringArray,
      returnNullable = false),
    Kernel("all_shingles", TextHash, "allShingles", Text, 1, StringArray, returnNullable = false),
    Kernel("simhash16", TextHash, "simHash16", Text, 0, LongType, returnNullable = true),
    Kernel("simhash_w", TextHash, "simHashW", Text, 1, LongType, returnNullable = true,
      w => require(w(0) > 0 && w(0) <= 32, "simhash width must be in 1..32")),
    Kernel("cdc_chunks", TextHash, "cdcChunks", Text, 1, LongArray, returnNullable = false,
      d => require(d(0) > 0, "chunk divisor must be positive")),
    Kernel("envelope_marshal", EnvelopeJsonImpl.getClass, "marshal", Message, 0, StringType,
      returnNullable = false),
    Kernel("envelope_parse", EnvelopeJsonImpl.getClass, "parse", Text, 0,
      EnvelopeJsonImpl.DecodedType, returnNullable = true),
    Kernel("envelope_marshal_bin", EnvelopeBinaryImpl.getClass, "marshal", Message, 0, BinaryType,
      returnNullable = false),
    Kernel("envelope_parse_bin", EnvelopeBinaryImpl.getClass, "parse", Seq(BinaryType), 0,
      EnvelopeJsonImpl.DecodedType, returnNullable = true),
    Kernel("media_stats", MediaStatsImpl.getClass, "stats", Seq(BinaryType), 0, MediaStatsType,
      returnNullable = true),
    Kernel("pq_adc", PqAdcImpl.getClass, "adc", Seq(ArrayType(IntegerType), ArrayType(DoubleType)),
      0, DoubleType, returnNullable = false))

  /** Stride-1 window digests; reached through the Column API only. */
  val spanHashes: Kernel = Kernel("span_hashes", TextHash, "spanHashes",
    Seq(ArrayType(StringType)), 1, ArrayType(BinaryType, containsNull = false),
    returnNullable = false)
}
