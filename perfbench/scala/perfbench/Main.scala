package perfbench

/** Entry point of the benchmark's JVM. `run.py` starts one JVM per run
  * with `mode=<dsl-run|serve-run|suite-run> result=<json path>` plus the
  * workload's parameters; the JVM writes its measurements to the result
  * file. */
object Main {
  def main(args: Array[String]): Unit = {
    val p = Params.parse(args)
    val res = p("mode") match {
      case "dsl-run" => Dsl.run(p)
      case "serve-run" => Serve.run(p)
      case "suite-run" => Suite.run(p)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    Json.write(p("result"), res)
  }
}
