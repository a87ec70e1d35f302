package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{Bench, SparkEntry}

/** Dev probe: one warm session on the bench configuration (`Bench.start`)
  * and Bench's own measured run (`Bench.once`: wall, executor CPU, host
  * steal, driver GC, generated classes compiled), in three modes.
  *
  * Usage:
  *   sbt "runMain graft.tools.Probe time <sfDir> <n> <query...>"
  *     times each named bench query n times, back to back. Each run prints
  *     the classes it compiled and the ms that took. A back-to-back repeat
  *     always finds its classes in the compiled-class cache, so run 2 and
  *     later say nothing about traffic that interleaves many statements:
  *     to see codegen cost under rotation, time the texts in rotation
  *     (`sql` mode with the statements repeated in another order).
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
    val (spark, cpuNs) = Bench.start(sfDir)
    def report(label: String, runs: Seq[Bench.Run]): Unit =
      println(s"[probe] $label " + runs.map(r =>
        "%.3f/%.3f/%d/%d".formatLocal(java.util.Locale.ROOT, r.wall, r.cpu, r.compiles, r.compileMs))
        .mkString(" ") + " (wall s/cpu s/classes compiled/compile ms)")
    try mode match {
      case "time" =>
        for (name <- args.drop(3).toSeq) {
          val fn = SparkEntry.benchQueries(name)
          report(name, (1 to args(2).toInt).map(_ => Bench.once(spark, cpuNs, sfDir)(fn)))
        }
      case "sql" =>
        val sqls = Files.readString(Paths.get(args(3)))
          .split(";;").map(_.trim).filter(_.nonEmpty)
        for ((sql, i) <- sqls.zipWithIndex) {
          val runs = (1 to args(2).toInt)
            .map(_ => Bench.once(spark, cpuNs, sfDir)((s, _) => s.sql(sql)))
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
