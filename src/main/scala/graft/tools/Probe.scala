package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{Bench, SparkEntry}

/** Dev probe: one warm session on the bench configuration (`Bench.start`)
  * and Bench's own measured run (`Bench.once`: wall, executor CPU, jobs
  * and stages from the context's `graft.engine.QueryMetrics` collector,
  * host steal, driver GC, generated classes compiled), in three modes.
  *
  * Usage:
  *   sbt "runMain graft.tools.Probe time <sfDir> <n> <query...>"
  *     times each named bench query n times, back to back, and prints one
  *     line per run with BENCH_FULL's fields (wall and CPU s, host steal %,
  *     driver GC ms, classes compiled, compile ms, jobs, stages). A
  *     back-to-back repeat always finds its classes in the compiled-class
  *     cache, so run 2 and later say nothing about traffic that interleaves
  *     many statements: to see codegen cost under rotation, time the texts
  *     in rotation (`sql` mode with the statements repeated in another order).
  *   sbt "runMain graft.tools.Probe sql <sfDir> <n> <sqlFile>"
  *     times each `;;`-separated Spark SQL statement in the file n times.
  *   sbt "runMain graft.tools.Probe plan <sfDir> <outDir> <tag> <query...>"
  *     writes `<outDir>/<query>_<tag>.txt`, the formatted physical plan.
  */
object Probe {
  private val usage = "usage: Probe time <sfDir> <n> <query...> | " +
    "sql <sfDir> <n> <sqlFile> | plan <sfDir> <outDir> <tag> <query...>"

  def main(args: Array[String]): Unit = {
    require(args.length >= 4, usage)
    val (mode, sfDir) = (args(0), args(1))
    val spark = Bench.start(sfDir)
    def report(label: String, runs: Seq[Bench.Run]): Unit =
      runs.foreach(r => println(s"[probe] $label {${r.fields}}"))
    try mode match {
      case "time" =>
        for (name <- args.drop(3).toSeq) {
          val fn = SparkEntry.benchQueries(name)
          report(name, (1 to args(2).toInt).map(_ => Bench.once(spark, sfDir)(fn)))
        }
      case "sql" =>
        val sqls = Files.readString(Paths.get(args(3)))
          .split(";;").map(_.trim).filter(_.nonEmpty)
        for ((sql, i) <- sqls.zipWithIndex) {
          val runs = (1 to args(2).toInt)
            .map(_ => Bench.once(spark, sfDir)((s, _) => s.sql(sql)))
          report(f"#$i%02d ${sql.linesIterator.next().take(70)}", runs)
        }
      case "plan" =>
        require(args.length >= 5, usage)
        val outDir = Files.createDirectories(Paths.get(args(2)))
        for (name <- args.drop(4).toSeq) {
          val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode)
          val file = s"${name}_${args(3)}.txt"
          Files.write(outDir.resolve(file), plan.getBytes(StandardCharsets.UTF_8))
          println(s"[probe] $name -> $file (${plan.length} chars)")
        }
      case other => sys.error(s"unknown mode '$other'; $usage")
    } finally spark.stop()
  }
}
