package kgbench

import graft.kg.{CorpusRow, GraphRag}
import graft.kg.fixtures.CorpusGen
import graft.kg.pipeline.{GraphTableIO, ParquetTableIO}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

class TracingTableIOSuite extends AnyFunSuite {

  test("the decorator overrides every method of GraphTableIO") {
    val declared = classOf[TracingTableIO].getDeclaredMethods
      .map(m => (m.getName, m.getParameterTypes.toSeq)).toSet
    val traitMethods = classOf[GraphTableIO].getDeclaredMethods
      .filterNot(_.getName.contains("$"))
      .map(m => (m.getName, m.getParameterTypes.toSeq)).toSet
    assert(traitMethods.size == 15)
    assert(traitMethods.diff(declared).isEmpty, traitMethods.diff(declared))
  }

  test("ingest through the decorator: same store stats, same Spark jobs") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    val dir = Files.createTempDirectory("kgbench-io").toString
    val corpus = CorpusGen.generate(4, 3, seed = 7L).rows
    spark.createDataset(corpus).write.parquet(s"$dir/corpus")
    def ingest(io: GraphTableIO): (Map[String, Long], Int) = {
      val kg = new GraphRag(spark, io, Main.config)
      val before = jobs.get
      kg.ingest(spark.read.parquet(s"$dir/corpus").as[CorpusRow])
      org.apache.spark.kgbench.BusDrain(spark.sparkContext)
      (kg.stats(), jobs.get - before)
    }
    try {
      val tracer = new Tracer(spark)
      val plain = ingest(new ParquetTableIO(s"$dir/plain"))
      val traced = ingest(new TracingTableIO(new ParquetTableIO(s"$dir/traced"), tracer))
      assert(plain._1.nonEmpty)
      assert(traced._1 == plain._1)
      assert(traced._2 == plain._2)
      assert(tracer.spans.exists(_.kind == "io"))
    } finally {
      Main.deleteTree(new java.io.File(dir))
      spark.stop()
    }
  }
}
