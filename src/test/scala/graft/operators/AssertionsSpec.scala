package graft.operators

import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** The assertion-form gate queries (Assertions.scala) must hold their
  * own bounds at spec scale: every boolean column true, every count
  * column positive. The driver's DuckDB compare enforces the same at
  * sf0.01 — this spec keeps the bounds honest at the second sf the
  * suite runs (different corpus geometry: 4 IVF cells, 28 truth
  * pairs) so a bound tuned to one dataset can't silently pin it.
  */
class AssertionsSpec extends SparkSpec {

  private def allTrue(df: DataFrame): Unit = {
    val rows = df.collect()
    assert(rows.nonEmpty)
    val schema = df.schema
    rows.foreach { r =>
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        f.dataType.typeName match {
          case "boolean" =>
            assert(r.getBoolean(i), s"${f.name} false in $r")
          case "long" =>
            assert(r.getLong(i) > 0, s"${f.name} non-positive in $r")
          case _ => ()
        }
      }
    }
  }

  test("pair-recall assertions hold (minhash / simhash / winnow)") {
    allTrue(Assertions.minhashRecall(spark, sfDir))
    allTrue(Assertions.simhashPairsRecall(spark, sfDir))
    allTrue(Assertions.winnowPairsRecall(spark, sfDir))
  }

  test("signature-consistency assertions hold (simhash / winnow / deflate)") {
    allTrue(Assertions.simhashConsistency(spark, sfDir))
    allTrue(Assertions.winnowConsistency(spark, sfDir))
    allTrue(Assertions.compressionInvariants(spark, sfDir))
  }

  test("sketch-bound assertions hold (HLL++ / datasketches rollup)") {
    allTrue(Assertions.approxDistinctBound(spark, sfDir))
    allTrue(Assertions.sketchRollupBound(spark, sfDir))
  }

  test("sim_ann_lsh answers every probe on a GenData heaps sf0.01 corpus") {
    // 80 vectors in 64 buckets: a probe can sit alone in its own
    // bucket, and only the Hamming-1 neighbour buckets answer it
    val dir = java.nio.file.Files.createTempDirectory("graft_heaps").toString
    graft.GenData.generate(spark, 0.01, dir)
    allTrue(Assertions.annLshRecall(spark, dir))
  }

  test("ANN recall assertions hold (lsh / ivf / pq / ivfpq)") {
    allTrue(Assertions.annLshRecall(spark, sfDir))
    allTrue(Assertions.annIvfRecall(spark, sfDir))
    allTrue(Assertions.pqTopKRecall(spark, sfDir))
    allTrue(Assertions.ivfPqTopKRecall(spark, sfDir))
  }

  test("mutual-kNN graph bounds hold, including the tight " +
    "fixed-geometry bound (4 cells at this sf)") {
    allTrue(Assertions.knnGraphBounds(spark, sfDir))
    // measured 0.52/0.67 at the 4-cell geometry — pin half that
    allTrue(Assertions.knnGraphBounds(spark, sfDir,
      recallBound = 0.3, precisionBound = 0.35))
  }

  test("numeric-invariant assertions hold (quantize / pca)") {
    allTrue(Assertions.quantizeBound(spark, sfDir))
    allTrue(Assertions.pcaInvariants(spark, sfDir))
  }
}
