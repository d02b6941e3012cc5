package graft.sources

import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The ONE parquet-Group → Spark-internal value decode matrix, shared by
  * every record-API reader in the engine ([[GraftRowReader]] — the
  * catalog's DV/debug path — and [[TxnTailReader]] — the streaming tail
  * and batch change feed). Covers the full flat type surface the catalog
  * serves: integral/floating/boolean/string/binary, DATE (INT32 epoch
  * days), TIMESTAMP and TIMESTAMP_NTZ (INT96 julian or annotated INT64 in
  * millis/micros/nanos → epoch micros), DECIMAL (INT32/INT64/binary
  * unscaled at the FILE's declared scale, rescaled to the table's), and
  * one-level ARRAY over any of those (standard 3-level parquet lists plus
  * the legacy 2-level shapes), plus the narrow-file up-conversions type
  * widening leaves behind (INT32→long, FLOAT→double). */
private[graft] object GroupDecode {

  /** One parsed Hadoop configuration per JVM (core-default/core-site XML
    * parse is milliseconds); every reader takes a cheap COPY — at
    * thousands of tasks per scan, per-reader re-parsing is pure waste. */
  private lazy val baseConf = new org.apache.hadoop.conf.Configuration()
  private[sources] def freshConf(): org.apache.hadoop.conf.Configuration =
    new org.apache.hadoop.conf.Configuration(baseConf)

  /** Open a parquet file with its read options taken from `conf`. The
    * one-argument `ParquetFileReader.open` builds them from a fresh
    * `new Configuration()`, which re-parses the Hadoop XML on every open
    * (~9 ms, against ~0.25 ms for a copy of a loaded one). */
  private[graft] def openParquet(path: org.apache.hadoop.fs.Path,
                                 conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())


  /** Fail a scan at FILE-OPEN time (not mid-decode) when a file declares a
    * decimal column at a scale EXCEEDING the requested one — rescaling
    * down would truncate digits, and the per-value ArithmeticException the
    * exact rescale would otherwise throw mid-scan names neither file nor
    * column. Engine-written files can never hit this (widening only ever
    * RAISES scale, and the up-rescale is exact); a hand-imported foreign
    * file can, and fails here with the full context instead. The
    * VECTORIZED path needs no twin check: Spark's own updater factory
    * refuses a scale-mismatched decimal at batch-init with its
    * SchemaColumnConvertNotSupportedException. */
  private[sources] def checkDecimalScale(fileType: org.apache.parquet.schema.GroupType,
                                         physName: String, dt: DataType,
                                         file: String): Unit = {
    def checkPrim(t: Type, d: DecimalType): Unit =
      if (t.isPrimitive) t.asPrimitiveType().getLogicalTypeAnnotation match {
        case a: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation
          if a.getScale > d.scale =>
          throw new UnsupportedOperationException(
            s"graft: $file column $physName carries DECIMAL scale " +
              s"${a.getScale}, wider than the table's ${d.sql} — reading " +
              "would truncate; widen the table column or rewrite the " +
              "foreign file")
        case _ => ()
      }
    // the file's LIST element primitive, mirroring [[value]]'s navigation:
    // standard 3-level (group → repeated wrapper → element) or legacy
    // 2-level (repeated primitive directly under the list group)
    def listElement(t: Type): Option[Type] =
      if (t.isPrimitive) None
      else {
        val rep = t.asGroupType().getType(0)
        if (rep.isPrimitive) Some(rep)
        else Some(rep.asGroupType().getType(0))
      }
    if (fileType.containsField(physName)) {
      val t = fileType.getType(fileType.getFieldIndex(physName))
      dt match {
        case d: DecimalType => checkPrim(t, d)
        case ArrayType(d: DecimalType, _) =>
          listElement(t).foreach(checkPrim(_, d))
        case _ => ()
      }
    }
  }

  /** Decode field `fi` (repetition already checked non-empty) of `g` under
    * requested Spark type `dt`; `typ` is the FILE's type for that field —
    * a primitive (physical encoding + logical annotation) for flat
    * columns, a LIST-annotated group for `ArrayType` columns. */
  def value(g: Group, fi: Int, typ: Type, dt: DataType): Any = dt match {
    case ArrayType(et, _) =>
      // parquet list shapes: the STANDARD 3-level form Spark writes —
      //   optional group col (LIST) { repeated group list { <el> element } }
      // — plus the legacy 2-level forms (repeated primitive directly, or a
      // repeated single-field wrapper group) foreign files may carry.
      val rep = typ.asGroupType().getType(0)
      if (rep.isPrimitive) {
        // legacy: `repeated <primitive> element` lives directly under the
        // list group — each repetition is one array element, never null
        val lst = g.getGroup(fi, 0)
        val n = lst.getFieldRepetitionCount(0)
        val out = new Array[Any](n)
        var i = 0
        while (i < n) {
          out(i) = primValue(lst, 0, i, rep.asPrimitiveType(), et); i += 1
        }
        new GenericArrayData(out)
      } else {
        val inner = rep.asGroupType().getType(0)
        val lst = g.getGroup(fi, 0)
        val n = lst.getFieldRepetitionCount(0)
        val out = new Array[Any](n)
        var i = 0
        while (i < n) {
          val w = lst.getGroup(0, i) // one per-element wrapper group
          out(i) =
            if (w.getFieldRepetitionCount(0) == 0) null // null element
            else primValue(w, 0, 0, inner.asPrimitiveType(), et)
          i += 1
        }
        new GenericArrayData(out)
      }
    case _ => primValue(g, fi, 0, typ.asPrimitiveType(), dt)
  }

  /** Decode repetition `idx` of primitive field `fi`. */
  private def primValue(g: Group, fi: Int, idx: Int, prim: PrimitiveType,
                        dt: DataType): Any = {
    def p = prim.getPrimitiveTypeName
    dt match {
      case LongType =>
        if (p == PrimitiveTypeName.INT32) g.getInteger(fi, idx).toLong
        else g.getLong(fi, idx)
      case IntegerType => g.getInteger(fi, idx)
      case ShortType   => g.getInteger(fi, idx).toShort
      case ByteType    => g.getInteger(fi, idx).toByte
      case DoubleType =>
        if (p == PrimitiveTypeName.FLOAT) g.getFloat(fi, idx).toDouble
        else g.getDouble(fi, idx)
      case FloatType   => g.getFloat(fi, idx)
      case BooleanType => g.getBoolean(fi, idx)
      case StringType  => UTF8String.fromBytes(g.getBinary(fi, idx).getBytes)
      case BinaryType  => g.getBinary(fi, idx).getBytes
      case DateType    => g.getInteger(fi, idx) // INT32 epoch days
      case TimestampType | TimestampNTZType =>
        // Spark internal = Long epoch micros for both; the file carries
        // INT96 (legacy julian) or INT64 in its annotation's unit
        if (p == PrimitiveTypeName.INT96) {
          val buf = java.nio.ByteBuffer.wrap(g.getInt96(fi, idx).getBytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val nanosOfDay = buf.getLong
          val julianDay = buf.getInt
          (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
        } else {
          val v = g.getLong(fi, idx)
          prim.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit match {
                case LogicalTypeAnnotation.TimeUnit.MILLIS => Math.multiplyExact(v, 1000L)
                case LogicalTypeAnnotation.TimeUnit.MICROS => v
                case LogicalTypeAnnotation.TimeUnit.NANOS  => Math.floorDiv(v, 1000L)
              }
            case _ => v // unannotated INT64: stored micros (our writer)
          }
        }
      case d: DecimalType =>
        // unscaled value at the FILE's declared scale (equal to the table
        // scale for graft-written files; honoring the annotation keeps
        // widened/foreign files exact)
        val fScale = prim.getLogicalTypeAnnotation match {
          case a: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => a.getScale
          case _ => d.scale
        }
        val jbd = p match {
          case PrimitiveTypeName.INT32 =>
            java.math.BigDecimal.valueOf(g.getInteger(fi, idx).toLong, fScale)
          case PrimitiveTypeName.INT64 =>
            java.math.BigDecimal.valueOf(g.getLong(fi, idx), fScale)
          case _ => new java.math.BigDecimal(
            new java.math.BigInteger(g.getBinary(fi, idx).getBytes), fScale)
        }
        Decimal(jbd.setScale(d.scale), d.precision, d.scale)
      case other => sys.error(s"graft: unsupported column type $other")
    }
  }
}
