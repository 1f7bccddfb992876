package graftbench

/** `--name value` pairs handed over by graftbench/run.py. */
final class Args(m: Map[String, String]) {
  def apply(k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def seed: Long = apply("seed").toLong
  def seconds: Double = apply("seconds").toDouble
  def setups: Int = int("setups")
  def work: String = apply("work")
}

object Args {
  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0 && argv.grouped(2).forall(_(0).startsWith("--")),
      s"expected --name value pairs, got: ${argv.mkString(" ")}")
    new Args(argv.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap)
  }
}

/** One workload run in its own JVM. The raw result (samples, checks, layer
  * counters, spans) goes to `--out` as one JSON document.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val trace = new Trace(a("trace") == "1")
    val r = new Result
    val t0 = System.nanoTime()
    a("workload") match {
      case "board"  => Board.run(a, r, trace)
      case "serve"  => Serve.run(a, r, trace)
      case "alert"  => Streams.alert(a, r, trace)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    r.fields("jvm_s") = (System.nanoTime() - t0) / 1e9
    r.write(a("out"), trace)
    // Spark leaves non-daemon threads behind; the result is on disk
    System.exit(0)
  }
}
