package org.apache.spark

import org.apache.spark.rdd.RDD

/** Size of the task binary a result job ships: its final RDD and the
  * per-partition function, serialized as a pair with the closure
  * serializer, as the DAG scheduler does before it broadcasts them to
  * the tasks. Lives in the spark package for the package-private
  * serializer access. */
object TaskBinary {
  def bytes[T, U](rdd: RDD[T])(func: Iterator[T] => U): Int = {
    val perTask = (_: TaskContext, it: Iterator[T]) => func(it)
    SparkEnv.get.closureSerializer.newInstance().serialize((rdd, perTask): AnyRef).limit()
  }
}
