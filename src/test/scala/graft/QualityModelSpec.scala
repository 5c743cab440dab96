package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.ops.QualityModel

/** Trained logistic quality classifier: deterministic integer-quantized
  * fit, direction of separation, zero-shuffle scoring plan, and the
  * `quality_filter_trained` corpus stage.
  */
class QualityModelSpec extends SparkSpec {

  import spark.implicits._

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("quality fit is deterministic and moves the weights") {
    val w1 = QualityModel.fit(docs, col("doc_id"), col("text"))
    val w2 = QualityModel.fit(docs, col("doc_id"), col("text"))
    assert(w1.toSeq == w2.toSeq, "same data + params must reproduce the weights exactly")
    assert(w1.exists(_ != 0L), "training left every weight at zero")
  }

  test("trained scores separate gopher-pass docs from fails in the label direction") {
    val scored = QualityModel.trainedScore(docs, col("doc_id"), col("text"))
      .withColumnRenamed("__id", "doc_id")
      .join(docs.select(col("doc_id"),
        graft.ops.TextAnalysis.gopherPass(col("text")).as("y")), "doc_id")
    val Array(avgPass, avgFail) = scored
      .groupBy("y").agg(avg(col("p_q")).as("p")).orderBy(col("y").desc)
      .select("p").as[Double].collect()
    assert(avgPass > avgFail,
      s"mean trained score of gopher-pass docs ($avgPass) must exceed fails ($avgFail)")
  }

  test("scoring with fitted weights is a narrow zero-shuffle plan") {
    val wq = QualityModel.fit(docs, col("doc_id"), col("text"))
    val scored = docs.select(col("doc_id") +:
      QualityModel.featureCols(col("text")).zipWithIndex
        .map { case (c, j) => c.as(s"f$j") }: _*)
      .select(col("doc_id"), QualityModel.scoreQ(wq).as("p_q"))
    val exchanges = scored.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty, "corpus-side scoring must not shuffle")
    assert(scored.count() == docs.count())
  }

  test("p_q stays in [0, 1e6] and keep mirrors the threshold") {
    val scored = QualityModel.trainedScore(docs, col("doc_id"), col("text"))
    val bad = scored.filter(col("p_q") < 0 || col("p_q") > 1000000 ||
      col("keep") =!= (col("p_q") >= QualityModel.KeepThresholdQ)).count()
    assert(bad == 0)
  }

  test("cli: corpus run applies quality_filter_trained from config") {
    val outDir = tempDir("graft-qft-").toString + "/out"
    val conf = tempDir("graft-qft-conf-").toString + "/c.yaml"
    Files.write(java.nio.file.Paths.get(conf),
      s"""input_dir: $sfDir/documents.parquet
         |output_dir: $outDir
         |stages:
         |  - kind: quality_filter_trained
         |    threshold: 0.5
         |""".stripMargin.getBytes("UTF-8"))
    val printed = collection.mutable.Buffer[String]()
    assert(Cli.run(Seq("corpus", "run", conf), spark, printed += _) == 0)
    val kept = spark.read.parquet(outDir)
    val expected = QualityModel.trainedScore(docs, col("doc_id"), col("text"))
      .filter(col("keep")).count()
    assert(kept.count() == expected,
      "stage must keep exactly the docs the trained model scores above threshold")
    assert(!kept.columns.exists(_.startsWith("f")), "feature columns must not leak")
  }
}
