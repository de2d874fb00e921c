package perfbench

/** Class-loading training run for the JVM's class-data-sharing archive:
  * set-up and warm-up of each given workload once, traced, so the archive
  * holds the classes the benchmark runs load.
  * `perfbench.Train <workDir> <workload>...`.
  */
object Train {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    args.drop(1).foreach { name =>
      val wl = Main.workload(name, 1L, s"$work/$name")
      val spark = Session.start(Main.Cores, s"$work/$name", wl.shufflePartitions)
      val tracer = new Tracer(spark)
      tracer.start()
      wl.setup(spark)
      wl.warm()
      tracer.stop()
      Session.stop(spark)
    }
  }
}
