package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.sources.Readers

/** `Readers.renameByDictionary` at the CMP dictionary's width: the
  * names a per-column `withColumnRenamed` fold gives, from a plan that
  * stays one projection deep however many codes map. */
class RenameByDictionarySpec extends SparkSpec {
  import spark.implicits._

  private def frame(names: Seq[String]): DataFrame = spark.createDataFrame(
    java.util.List.of(Row.fromSeq(names.indices)),
    StructType(names.map(StructField(_, IntegerType))))

  private def projects(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case p: Project => p }.size

  // 205 codes, one (C999) absent from the frame; 205 columns, one
  // ("unmapped") absent from the dictionary, in the middle of the frame
  private val codes = (0 until 204).map(i => f"C$i%03d") :+ "C999"
  private val dict = codes.map(c => c -> s"desc of $c").toDF("CODE", "Description")
  private val columns = (0 until 204).map(i => f"C$i%03d").patch(100, Seq("unmapped"), 0)
  private val wide = frame(columns)

  describe("Readers.renameByDictionary") {
    it("names and orders columns as the per-column rename fold did") {
      val mapping = codes.map(c => c -> s"desc of $c").toMap
      val fold = wide.columns.foldLeft(wide)((d, c) =>
        mapping.get(c).map(d.withColumnRenamed(c, _)).getOrElse(d))
      val renamed = Readers.renameByDictionary(wide, dict)
      renamed.columns.toSeq shouldBe fold.columns.toSeq
      renamed.columns(100) shouldBe "unmapped"
      renamed.columns.count(_.startsWith("desc of ")) shouldBe 204
      renamed.columns should not contain "desc of C999"
      renamed.head().toSeq shouldBe (0 until 205)
    }

    it("renames in one projection, not one per code") {
      projects(wide) shouldBe 0
      projects(Readers.renameByDictionary(wide, dict)) shouldBe 1
    }

    it("matches codes to columns through the session resolver") {
      val renamed = Readers.renameByDictionary(frame(Seq("c000", "x")), dict)
      renamed.columns.toSeq shouldBe Seq("desc of C000", "x")
    }
  }
}
