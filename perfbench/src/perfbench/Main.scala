package perfbench

/** Entry point of one benchmark run (normally launched by `run.py`).
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --inputs <dir> --nproc <n>
  *          [--setup-only 1]
  *
  * Writes `<work>/result.json` (metrics, checks, input sizes, witnesses)
  * and, when traced, `<work>/spans.jsonl`. With `--setup-only 1` the run
  * times the workload's set-up in this fresh JVM and stops there; the
  * runner uses it for more cold `setup_s` samples.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = new Ctx(o("workload"), o("seed").toLong, o("seconds").toDouble,
      o("trace") == "1", o("work"), o("inputs"), o("nproc").toInt)
    Heap.install()
    val setUpOnly = o.get("setup-only").contains("1")
    Trace.start(s"${c.workload}-${c.seed}")
    val code =
      try {
        val models = c.setUp()
        if (!setUpOnly) c.workload match {
          case "filter_batch" => FilterBatch.run(c, models.get)
          case "curation_ngrams" => CurationNgrams.run(c)
          case "profile_json" => ProfileJson.run(c)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        c.finish()
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally c.stop()
    System.exit(code)
  }
}
