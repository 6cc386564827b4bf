package graft

import graft.functions.expressions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Proves the native expression family COMPILES under codegen — not just
 * that queries return right answers. Whole-stage codegen falls back to
 * interpreted mode silently when Janino rejects generated Java, so green
 * end-to-end tests alone cannot distinguish "codegen'd" from "quietly
 * interpreted". `GenerateUnsafeProjection.generate` has no fallback: a
 * codegen bug throws here. Values are then cross-checked against the
 * interpreted `eval` path so the two implementations can never drift.
 */
class ExpressionsCodegenSpec extends SparkTestBase {

  private val textRef = BoundReference(0, StringType, nullable = true)
  private val vecRef =
    BoundReference(1, ArrayType(DoubleType, containsNull = false), nullable = true)

  private def exprs = {
    val sh = ShingleHashes(textRef, 2)
    Seq(
      sh,
      SpanHashes(textRef, 2),
      MinHashSignature(sh, 8, seed = 42L),
      SimHash64(sh),
      Fingerprint64(textRef),
      TextStats(textRef),
      LangId(textRef),
      L2Normalize(vecRef),
      HyperplaneKeys(vecRef, dim = 4, nTables = 2, nBits = 8, seed = 7L, probes = 1),
      RandomProject(vecRef, outDim = 8, seed = 5L),
      NearestCells(vecRef,
        Array(Array(1.0, 0, 0, 0), Array(0, 1.0, 0, 0), Array(0, 0, 1.0, 0)),
        nProbe = 2),
      PqEncode(vecRef, pqBooks),
      PqAdcScore(vecRef, PqEncode(vecRef, pqBooks), pqBooks),
      AffineProject(vecRef,
        Array(Array(1.0, 0, 0, 0), Array(0.0, 0.5, 0.5, 0)),
        Array(0.1, 0.2, 0.3, 0.4)),
      DequantizeInt8(QuantizeInt8(vecRef)))
  }

  // 2 subspaces x 3 codewords x 2 dims over the 4-dim test vectors
  private val pqBooks: Array[Array[Array[Double]]] = Array(
    Array(Array(0.0, 0.0), Array(1.0, 0.5), Array(-1.0, 2.0)),
    Array(Array(0.5, 0.5), Array(-0.5, 0.25), Array(2.0, -1.0)))

  private val rows = Seq(
    InternalRow(UTF8String.fromString("the quick brown fox jumps"),
      new GenericArrayData(Array(0.1, -0.4, 0.8, 0.3))),
    InternalRow(UTF8String.fromString("x"),          // < k tokens → empty shingles
      new GenericArrayData(Array(0.0, 0.0, 0.0, 0.0))),
    InternalRow(UTF8String.fromString("   "),        // blank → empty shingles
      new GenericArrayData(Array(1.0, 2.0, -3.0, 4.0))),
    InternalRow(null, new GenericArrayData(Array(0.5, 0.5, 0.5, 0.5))))

  test("dedup/ANN expression family generates compilable code") {
    // throws CompileException on any doGenCode bug — the actual assertion
    val proj = GenerateUnsafeProjection.generate(exprs)
    rows.foreach(proj(_))
  }

  test("codegen and interpreted eval agree on every expression and row") {
    val es = exprs
    val proj = GenerateUnsafeProjection.generate(es)
    rows.foreach { row =>
      val out = proj(row).copy()
      es.zipWithIndex.foreach { case (e, i) =>
        val interp = e.eval(row)
        val clue = s"expr #$i ${e.getClass.getSimpleName}"
        if (interp == null) assert(out.isNullAt(i), clue)
        else {
          assert(!out.isNullAt(i), clue)
          e.dataType match {
            case LongType =>
              assert(out.getLong(i) === interp.asInstanceOf[Long], clue)
            case DoubleType =>
              assert(out.getDouble(i) === interp.asInstanceOf[Double], clue)
            case ArrayType(LongType, _) =>
              assert(out.getArray(i).toLongArray.toSeq ===
                interp.asInstanceOf[GenericArrayData].toLongArray.toSeq, clue)
            case ArrayType(DoubleType, _) =>
              assert(out.getArray(i).toDoubleArray.toSeq ===
                interp.asInstanceOf[GenericArrayData].toDoubleArray.toSeq, clue)
            case ArrayType(IntegerType, _) =>
              assert(out.getArray(i).toIntArray.toSeq ===
                interp.asInstanceOf[GenericArrayData].toIntArray.toSeq, clue)
            case StringType =>
              assert(out.getUTF8String(i) === interp, clue)
            case st: StructType if st.forall(_.dataType == IntegerType) =>
              val n = st.size
              assert((0 until n).map(out.getStruct(i, n).getInt) ===
                (0 until n).map(interp.asInstanceOf[InternalRow].getInt), clue)
            case other => fail(s"unhandled type $other for $clue")
          }
        }
      }
    }
  }

  test("null text yields empty (non-null) shingle/span arrays under codegen") {
    val proj = GenerateUnsafeProjection.generate(
      Seq(ShingleHashes(textRef, 2), SpanHashes(textRef, 2)))
    val out = proj(InternalRow(null, null))
    assert(!out.isNullAt(0) && out.getArray(0).numElements() === 0)
    assert(!out.isNullAt(1) && out.getArray(1).numElements() === 0)
  }

  test("AffineProject: null element -> NULL, over-length vector raises under codegen") {
    val nref = BoundReference(1, ArrayType(DoubleType, containsNull = true),
      nullable = true)
    val proj = GenerateUnsafeProjection.generate(Seq(
      AffineProject(nref, Array(Array(1.0, 0.0)), Array(0.0, 0.0))))
    assert(proj(InternalRow(null,
      new GenericArrayData(Array[Any](1.0, null)))).isNullAt(0))
    assert(!proj(InternalRow(null,
      new GenericArrayData(Array[Any](1.0, 2.0)))).isNullAt(0))
    intercept[IllegalArgumentException] {
      proj(InternalRow(null, new GenericArrayData(Array[Any](1.0, 2.0, 3.0))))
    }
  }

  test("non-finite vector yields SQL NULL quantization under codegen") {
    val proj = GenerateUnsafeProjection.generate(Seq(QuantizeInt8(vecRef)))
    assert(proj(InternalRow(null,
      new GenericArrayData(Array(1.0, Double.NaN, 2.0, 3.0)))).isNullAt(0))
    assert(proj(InternalRow(null,
      new GenericArrayData(Array(1.0, Double.NegativeInfinity, 2.0, 3.0)))).isNullAt(0))
    val ok = proj(InternalRow(null, new GenericArrayData(Array(1.0, 2.0, 3.0, 4.0))))
    assert(!ok.isNullAt(0))
    val s = ok.getStruct(0, 3)
    assert(s.getDouble(0) === 1.0)
    assert(s.getArray(2).toByteArray.toSeq === Seq(-128, -43, 42, 127).map(_.toByte))
  }

  test("empty shingle set yields SQL NULL minhash signature under codegen") {
    val sh = ShingleHashes(textRef, 2)
    val proj = GenerateUnsafeProjection.generate(
      Seq(MinHashSignature(sh, 8, seed = 42L)))
    assert(proj(InternalRow(UTF8String.fromString("one"), null)).isNullAt(0))
    assert(!proj(InternalRow(
      UTF8String.fromString("one two three"), null)).isNullAt(0))
  }
}
