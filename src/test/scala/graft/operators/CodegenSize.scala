package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.debug.codegenStringSeq

/**
 * Bytecode size of the largest generated method in a query's
 * whole-stage-codegen stage — the number the JVM compares against its
 * 8000-byte huge-method limit (`-XX:HugeMethodLimit`): a larger method
 * is never JIT-compiled and its whole stage runs interpreted (Spark logs
 * it as "Generated method too long to be JIT compiled"). Check a new
 * DeclarativeAggregate with it; `TopKSlotsSpec` pins [[TopKSlots.JitK]].
 */
object CodegenSize {
  val HugeMethodLimit: Int = 8000

  /** Runs `df` (so adaptive execution settles its final stages), then
   * compiles the codegen stage that holds the node whose plan string
   * contains `marker` and returns its largest method's bytecode size.
   * A stage's plan string also prints the stages below it, so the
   * holder is the smallest stage that mentions `marker`. */
  def maxMethodBytes(df: DataFrame, marker: String): Int = {
    df.collect()
    val stages = codegenStringSeq(df.queryExecution.executedPlan)
      .filter(_._1.contains(marker))
    require(stages.nonEmpty, s"no codegen stage contains '$marker'")
    stages.minBy(_._1.length)._3.maxMethodCodeSize
  }
}
