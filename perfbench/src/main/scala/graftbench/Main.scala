package graftbench

import java.nio.file.{Files, Path, Paths}

/** Entry point of the benchmark's JVM side.
  *
  *   gen stream <dir> <seed> <backlogFiles> <backlogLines> <liveFiles> <liveLines>
  *   gen table  <dir> <seed> <rows> <users>
  *   run <dir> <workload> <seed> <seconds> <trace 0|1> <cores> <launchEpochMs>
  *
  * `gen` writes a run's inputs under `dir`; `run` runs one workload
  * against them and writes `result.json` (and `spans.json` when
  * tracing) under `dir`.
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: "stream" :: dir :: seed :: bf :: bl :: lf :: ll :: Nil =>
      genStream(Paths.get(dir), seed.toLong, bf.toInt, bl.toInt, lf.toInt, ll.toInt)
    case "gen" :: "table" :: dir :: seed :: rows :: users :: Nil =>
      Files.createDirectories(Paths.get(dir))
      Generator.writeEventsTable(seed.toLong, rows.toInt, users.toInt,
        Paths.get(dir).resolve("events.parquet"))
    case "run" :: dir :: workload :: seed :: seconds :: trace :: cores :: launch :: Nil =>
      val cfg = RunConfig(Paths.get(dir), workload, seed.toLong, seconds.toDouble,
        trace == "1", cores.toInt, launch.toLong)
      // the results are on disk: end the JVM without Spark's shutdown
      // hooks, whose clean-up of the run directory the runner does
      Runtime.getRuntime.halt(Workloads.run(cfg))
    case _ =>
      System.err.println("usage: see graftbench.Main")
      sys.exit(2)
  }

  /** Envelope time per file: backlog files cover 10 minutes each, open
    * loop files 20 minutes each, so an `ingest` run's event time spans
    * about two days and a `live` run's about three: hour windows close
    * and leave the state store during the run. */
  val BacklogStepMs: Long = 10 * 60 * 1000L
  val LiveStepMs: Long = 20 * 60 * 1000L

  /** One event past the watermark every `LateEvery` files. */
  val LateEvery = 4

  private def genStream(dir: Path, seed: Long, backlogFiles: Int, backlogLines: Int,
      liveFiles: Int, liveLines: Int): Unit = {
    val in = Files.createDirectories(dir.resolve("in"))
    val backlog = Files.createDirectories(dir.resolve("staging/backlog"))
    val live = Files.createDirectories(dir.resolve("staging/live"))
    val env = new Generator.Envelopes(seed, 1000000, Generator.StreamStartMs, LateEvery)
    def emit(to: Path, name: String, n: Int, step: Long): Generator.Tally = {
      val (lines, t) = env.next(n, step)
      Generator.writeFile(to, name, lines)
      t
    }
    val warm = emit(in, Generator.fileName("warmup", 0), 200, BacklogStepMs)
    val back = new Generator.Tally
    (1 to backlogFiles).foreach(i =>
      back.add(emit(backlog, Generator.fileName("backlog", i), backlogLines, BacklogStepMs)))
    val liveTallies = (1 to liveFiles).map(i =>
      emit(live, Generator.fileName("live", i), liveLines, LiveStepMs))
    Out.write(dir.resolve("manifest.json"), Out.obj(
      "warmup" -> Out.Raw(warm.toJson),
      "backlog" -> Out.Raw(back.toJson),
      "live" -> liveTallies.map(t => Out.Raw(t.toJson))).json)
  }
}

final case class RunConfig(dir: Path, workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, launchMs: Long)
