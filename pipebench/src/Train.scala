package pipebench

/** The build's training run: one short run of every workload in one
  * JVM, so that the class-data sharing archive written at its exit
  * holds the classes each workload loads. Its figures are discarded.
  *
  *   pipebench.Train --work DIR --cores C --launched-ns T */
object Train {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Seq("backfill", "catchup", "curation").foreach { w =>
      Main.run(Array("--workload", w, "--seed", "1", "--seconds", "0", "--trace", "1",
        "--work", s"${opt("--work")}/$w", "--cores", opt("--cores"),
        "--launched-ns", opt("--launched-ns")))
    }
  }
}
