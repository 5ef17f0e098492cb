package graftbench

/** Writes the analytics tables (sf0.1 row counts, `GenScale` at
  * multiplier 1) to the directory given as the only argument.
  */
object GenData {
  def main(args: Array[String]): Unit = {
    val run = new Run("gendata", 0L, 0.0, traced = false,
      Runtime.getRuntime.availableProcessors(), args(1))
    val spark = run.startSession()
    graft.tools.GenScale.generate(spark, args(0), 1)
    run.stopSession()
  }
}
