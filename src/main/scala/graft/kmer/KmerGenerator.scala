package graft.kmer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.ArrayDataGenerator

/** Lazily-evaluated ArrayData of all width-k windows of a string: window
  * i is computed on demand when the Generate loop asks for element i —
  * the collection is never materialized as an array of n strings (the
  * `explode(sequence(...))` formulation allocates an O(len) position
  * array per row; a naive CollectionGenerator would allocate the O(len)
  * window array).
  *
  * Element access cost: for ASCII rows (char count == byte count — the
  * overwhelming case for corpus text) each window is an O(1) zero-copy
  * slice of the row's byte array. For multibyte rows a sequential
  * char→byte cursor makes in-order access (the Generate loop's pattern)
  * amortized O(k) per window instead of O(len).
  */
final class KmerWindowsArrayData(s: UTF8String, k: Int) extends ArrayData {
  // null text: no windows (see graft.functions.ArrayDataGenerator)
  private[this] val bytes: Array[Byte] = if (s == null) Array.emptyByteArray else s.getBytes
  private[this] val nChars: Int = if (s == null) 0 else s.numChars()
  private[this] val ascii: Boolean = bytes.length == nChars
  private[this] val n: Int = if (nChars < k) 0 else nChars - k + 1
  // sequential-access cursor: byte offset of char `curChar` (multibyte path)
  private[this] var curChar: Int = 0
  private[this] var curByte: Int = 0

  override def numElements(): Int = n

  private def byteOffsetOf(charPos: Int): Int = {
    if (charPos < curChar) { curChar = 0; curByte = 0 }
    while (curChar < charPos) {
      curByte += UTF8String.numBytesForFirstByte(bytes(curByte))
      curChar += 1
    }
    curByte
  }

  override def getUTF8String(i: Int): UTF8String =
    if (ascii) UTF8String.fromBytes(bytes, i, k)
    else {
      val start = byteOffsetOf(i)
      var end = start
      var c = 0
      while (c < k) { end += UTF8String.numBytesForFirstByte(bytes(end)); c += 1 }
      UTF8String.fromBytes(bytes, start, end - start)
    }

  override def isNullAt(i: Int): Boolean = false
  override def get(ordinal: Int, dataType: DataType): AnyRef = getUTF8String(ordinal)

  override def array: Array[Any] =
    Array.tabulate[Any](n)(i => getUTF8String(i).clone())
  override def copy(): ArrayData = new GenericArrayData(array)

  private def unsupported(): Nothing =
    throw new UnsupportedOperationException("kmer windows are string-typed and read-only")
  override def setNullAt(i: Int): Unit = unsupported()
  override def update(i: Int, value: Any): Unit = unsupported()
  override def getBoolean(i: Int): Boolean = unsupported()
  override def getByte(i: Int): Byte = unsupported()
  override def getShort(i: Int): Short = unsupported()
  override def getInt(i: Int): Int = unsupported()
  override def getLong(i: Int): Long = unsupported()
  override def getFloat(i: Int): Float = unsupported()
  override def getDouble(i: Int): Double = unsupported()
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal = unsupported()
  override def getBinary(i: Int): Array[Byte] = unsupported()
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal = unsupported()
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal = unsupported()
  override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval = unsupported()
  override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal = unsupported()
  override def getStruct(i: Int, numFields: Int): InternalRow = unsupported()
  override def getArray(i: Int): ArrayData = unsupported()
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData = unsupported()
}

/** Catalyst Generator emitting all width-k windows of a string — the
  * direct analog of the reference's Map kernel (one work-item per
  * character position, reference `src/GPU_Module/GPU.cpp:32-45`).
  *
  * An [[ArrayDataGenerator]], so `GenerateExec` keeps the explode
  * inside WholeStageCodegen: `doGenCode` yields a
  * [[KmerWindowsArrayData]] — a LAZY collection whose elements are
  * computed as the generated loop indexes them — so neither an O(len)
  * position array nor an O(len) window array is materialized. The
  * interpreted `eval` iterates the same collection.
  *
  * With `withPos = true` (`kmer_windows_pos`) the generator also emits
  * the 0-based window ordinal — the `posexplode` analog, used by
  * [[graft.dedup.SubstringDup]] which needs character offsets; the
  * position comes from the Generate loop's own index, so the lazy
  * no-materialization property is unchanged.
  */
case class KmerGenerator(child: Expression, k: Int, withPos: Boolean = false)
    extends UnaryExpression with ArrayDataGenerator {

  override def position: Boolean = withPos
  override def inline: Boolean = false
  override def collectionType: DataType = ArrayType(StringType, containsNull = false)

  override def elementSchema: StructType =
    if (withPos)
      new StructType()
        .add("pos", IntegerType, nullable = false)
        .add("word", StringType, nullable = false)
    else new StructType().add("word", StringType, nullable = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType if k >= 1 && k <= Kmers.MaxK => TypeCheckResult.TypeCheckSuccess
      case _: StringType => TypeCheckResult.TypeCheckFailure(s"k must be in [1, ${Kmers.MaxK}], got $k")
      case other => TypeCheckResult.TypeCheckFailure(s"kmer_windows needs a string column, got $other")
    }

  override protected def collection(inputs: Seq[Any]): ArrayData =
    new KmerWindowsArrayData(inputs.head.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"new graft.kmer.KmerWindowsArrayData($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): KmerGenerator =
    copy(child = newChild)
}
