package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.CollectionGenerator
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, Decimal}
import org.apache.spark.unsafe.types.{CalendarInterval, GeographyVal, GeometryVal, UTF8String, VariantVal}

/** A [[CollectionGenerator]] whose collection is one `ArrayData` built
  * by a single Scala call. `doGenCode` emits that call, and
  * `GenerateExec` iterates the result inside WholeStageCodegen; the
  * interpreted [[eval]] here makes the same call through [[collection]]
  * and iterates the same elements, so the two paths share one
  * implementation.
  *
  * Rows follow `GenerateExec`'s collection contract: when `inline`,
  * each element is already the output row; otherwise each element is
  * the one output column, preceded by its 0-based ordinal when
  * `position`. A null input yields no rows: [[eval]] skips the call,
  * and since a Generator is declared non-nullable the generated code
  * does not, so the called code must itself map a null input to an
  * empty collection.
  */
trait ArrayDataGenerator extends CollectionGenerator {

  /** The collection for the non-null values of `children`, in order. */
  protected def collection(inputs: Seq[Any]): ArrayData

  private lazy val elem = collectionType.asInstanceOf[ArrayType].elementType
  private lazy val width = elementSchema.length

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val inputs = children.map(_.eval(input))
    if (inputs.contains(null)) Iterator.empty
    else {
      val arr = collection(inputs)
      Iterator.tabulate(arr.numElements()) { i =>
        if (inline) arr.getStruct(i, width)
        else if (position) InternalRow(i, arr.get(i, elem))
        else InternalRow(arr.get(i, elem))
      }
    }
  }
}

/** Base of a generator's read-only collection of `width`-field struct
  * rows: a subclass supplies `numElements` and `getStruct`; elements
  * are never null, and every other accessor and mutator throws.
  */
abstract class StructRowsArrayData(width: Int) extends ArrayData {
  override def isNullAt(i: Int): Boolean = false
  override def get(ordinal: Int, dataType: DataType): AnyRef = getStruct(ordinal, width)
  override def array: Array[Any] = Array.tabulate[Any](numElements())(getStruct(_, width))
  override def copy(): ArrayData = new GenericArrayData(array)

  private def unsupported(): Nothing =
    throw new UnsupportedOperationException(s"${getClass.getSimpleName} rows are struct-typed and read-only")
  override def setNullAt(i: Int): Unit = unsupported()
  override def update(i: Int, value: Any): Unit = unsupported()
  override def getBoolean(i: Int): Boolean = unsupported()
  override def getByte(i: Int): Byte = unsupported()
  override def getShort(i: Int): Short = unsupported()
  override def getInt(i: Int): Int = unsupported()
  override def getLong(i: Int): Long = unsupported()
  override def getFloat(i: Int): Float = unsupported()
  override def getDouble(i: Int): Double = unsupported()
  override def getDecimal(i: Int, precision: Int, scale: Int): Decimal = unsupported()
  override def getBinary(i: Int): Array[Byte] = unsupported()
  override def getUTF8String(i: Int): UTF8String = unsupported()
  override def getGeography(i: Int): GeographyVal = unsupported()
  override def getGeometry(i: Int): GeometryVal = unsupported()
  override def getInterval(i: Int): CalendarInterval = unsupported()
  override def getVariant(i: Int): VariantVal = unsupported()
  override def getArray(i: Int): ArrayData = unsupported()
  override def getMap(i: Int): MapData = unsupported()
}
