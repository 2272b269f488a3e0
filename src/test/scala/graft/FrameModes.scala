package graft

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Each test input frame in both execution modes. A `Seq(...).toDF`
  * frame is a LocalRelation: ConvertToLocalRelation evaluates projections
  * and filters over it while optimizing, so only the interpreted `eval`
  * of a kernel runs. The same rows behind an RDD run through
  * whole-stage generated code, so a kernel's `doGenCode` runs too. */
object FrameModes {

  def frames[T <: Product : ClassTag : TypeTag](spark: SparkSession,
      rows: Seq[T], cols: String*): Seq[(String, DataFrame)] = {
    import spark.implicits._
    Seq("local" -> rows.toDF(cols: _*),
      "rdd" -> spark.sparkContext.parallelize(rows, 2).toDF(cols: _*))
  }
}
