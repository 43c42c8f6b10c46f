package graft.pipeline

import java.nio.file.{Files, Path, Paths}

/** A raw zone in a fresh temporary directory, holding a BLS file and a
  * `population.json` (the spec fixtures unless given), and the config
  * whose analytics stage reads it and publishes into `database`.
  */
object RawZone {

  def fixture(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(getClass.getResource(s"/fixtures/$name").toURI))

  def apply(
      database: String,
      bls: Array[Byte] = fixture("pr.data.0.Current"),
      population: Array[Byte] = fixture("population.json")): PipelineConfig = {
    val dir = Files.createTempDirectory("graft-pipeline").toString
    val cfg = PipelineConfig(
      blsSource = "https://example.test/pub/time.series/pr/",
      blsTargetDir = s"$dir/raw_bls",
      populationUrl = "https://api.test/data.jsonrecords",
      populationTargetPath = s"$dir/raw_datausa/population.json",
      populationMetaPath = s"$dir/raw_datausa/_meta/population_ingest_run.json",
      database = database)
    write(blsPath(cfg), bls)
    write(Paths.get(cfg.populationTargetPath), population)
    cfg
  }

  def blsPath(cfg: PipelineConfig): Path = Paths.get(cfg.blsTargetDir, cfg.blsFileName)

  private def write(p: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  /** Replaces the first `from` in `p` by `to`, of the same length. */
  def replaceOnce(p: Path, from: String, to: String): Unit = {
    require(from.length == to.length)
    val text = new String(Files.readAllBytes(p), "UTF-8")
    val i = text.indexOf(from)
    require(i >= 0, s"$from not in $p")
    Files.write(p, (text.take(i) + to + text.drop(i + from.length)).getBytes("UTF-8"))
  }
}
