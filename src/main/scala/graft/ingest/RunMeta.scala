package graft.ingest

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Run-metadata documents — part of the data model
  * (SURVEY.md §1.2 "Run-metadata documents").
  */
final case class FileError(file: Option[String], url: Option[String], error: String)

/** BLS mirror-sync run record (10_ingest_bls.ipynb:236-263). */
final case class BlsRunMeta(
    run_id: String,
    run_utc: String,
    source: String,
    target_dir: String,
    delete_enabled: Boolean,
    protected_files: Seq[String],
    remote_file_count: Option[Int],
    local_file_count_start: Option[Int],
    uploaded: Int,
    updated: Int,
    skipped: Int,
    deleted: Int,
    status: Option[String], // success | partial_success | failed
    errors: Seq[FileError],
    started_utc: String,
    ended_utc: Option[String],
    duration_seconds: Option[Long])

/** Population ingest run record (11_ingest_population.ipynb:158-165). */
final case class PopulationRunMeta(
    run_utc: String,
    url: String,
    params: Map[String, String],
    mode: Option[String], // api_success | fallback_cached
    rows: Option[Int],
    error: Option[String])

object Json {
  private val mapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.enable(SerializationFeature.INDENT_OUTPUT)
    m
  }

  def write(value: Any): String = mapper.writeValueAsString(value)

  def readMap(s: String): Map[String, Any] =
    mapper.readValue(s, classOf[Map[String, Any]])

  def read[T](s: String, cls: Class[T]): T = mapper.readValue(s, cls)
}
