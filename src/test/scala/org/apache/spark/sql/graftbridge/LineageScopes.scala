package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD

/** The names of the physical operators that built an RDD's lineage. Every
  * `SparkPlan.execute` tags the RDDs it creates with an operation scope
  * named after the node; `RDD.scope` is private[spark], hence this bridge.
  * Plan audits use it where a DataFrame's own plan stops at an RDD scan
  * (operators that hand-build their merge over `queryExecution.toRdd`). */
object LineageScopes {
  def names(rdd: RDD[_]): Seq[String] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Seq[String] =
      if (!seen.add(r.id)) Nil
      else r.scope.map(_.name).toSeq ++ r.dependencies.flatMap(d => walk(d.rdd))
    walk(rdd)
  }
}
