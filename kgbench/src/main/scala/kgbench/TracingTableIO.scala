package kgbench

import graft.kg.pipeline.GraphTableIO
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Delegating GraphTableIO that records one `io` span per call. Every
  * method of the trait is forwarded, the defaulted ones too: a method
  * left to its trait default would silently change what the traced
  * program does (e.g. `rowCount` would scan rows, `withWriterLock` would
  * stop locking). The tracer is transient; a copy shipped inside a task
  * closure only forwards. */
final class TracingTableIO(inner: GraphTableIO, @transient tracer: Tracer)
    extends GraphTableIO {

  private def rec[T](op: String, table: String)(f: => T): T =
    if (tracer == null) f
    else tracer.span("io", s"$op:$table", "op" -> op, "table" -> table)(f)

  def exists(spark: SparkSession, table: String): Boolean =
    rec("exists", table)(inner.exists(spark, table))
  def read(spark: SparkSession, table: String): DataFrame =
    rec("read", table)(inner.read(spark, table))
  def merge(spark: SparkSession, table: String, delta: DataFrame,
      keys: Seq[String], partitionCols: Seq[String]): Unit =
    rec("merge", table)(inner.merge(spark, table, delta, keys, partitionCols))
  def overwrite(spark: SparkSession, table: String, df: DataFrame,
      partitionCols: Seq[String]): Unit =
    rec("overwrite", table)(inner.overwrite(spark, table, df, partitionCols))
  def overwritePartitions(spark: SparkSession, table: String, df: DataFrame,
      partitionCol: String, partitions: Seq[Int]): Unit =
    rec("overwritePartitions", table)(
      inner.overwritePartitions(spark, table, df, partitionCol, partitions))
  override def appendNew(spark: SparkSession, table: String, delta: DataFrame,
      keys: Seq[String], partitionCols: Seq[String]): Unit =
    rec("appendNew", table)(inner.appendNew(spark, table, delta, keys, partitionCols))
  override def rowCount(spark: SparkSession, table: String): Long =
    rec("rowCount", table)(inner.rowCount(spark, table))
  override def snapshotFp(spark: SparkSession, table: String): String =
    rec("snapshotFp", table)(inner.snapshotFp(spark, table))
  // the lease spans the whole batch; it is forwarded, not recorded
  override def withWriterLock[T](spark: SparkSession)(f: => T): T =
    inner.withWriterLock(spark)(f)
  override def setFlag(spark: SparkSession, name: String): Unit =
    rec("meta", name)(inner.setFlag(spark, name))
  override def clearFlag(spark: SparkSession, name: String): Unit =
    rec("meta", name)(inner.clearFlag(spark, name))
  override def flagSet(spark: SparkSession, name: String): Boolean =
    rec("meta", name)(inner.flagSet(spark, name))
  override def putMeta(spark: SparkSession, name: String, value: String): Unit =
    rec("meta", name)(inner.putMeta(spark, name, value))
  override def getMeta(spark: SparkSession, name: String): Option[String] =
    rec("meta", name)(inner.getMeta(spark, name))
  override def clearMeta(spark: SparkSession, name: String): Unit =
    rec("meta", name)(inner.clearMeta(spark, name))
}
