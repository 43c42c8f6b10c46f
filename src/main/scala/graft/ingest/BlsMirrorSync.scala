package graft.ingest

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import scala.util.matching.Regex
import scala.util.{Failure, Success}

/** Mirror-style sync of the upstream BLS directory into the raw zone
  * (10_ingest_bls.ipynb cells 1-2), re-expressed as driver-side Scala:
  *
  *  - discover upstream files by regex over the directory listing (4
  *    href patterns, scope-tightened to `pr.*`);
  *  - per file: GET with retry, full-file SHA-256 compare →
  *    uploaded / updated / skipped counters (byte-idempotent re-runs);
  *  - optional mirror delete of local files absent upstream, guarded
  *    by the protected set;
  *  - per-run metadata written create-only + a `latest.json` pointer
  *    overwritten, both in a finally block so metadata survives
  *    failures; status ∈ success | partial_success | failed.
  */
final case class BlsSyncConfig(
    dataSource: String,
    targetDir: String,
    enableDelete: Boolean = true,
    protectedFiles: Set[String] = Set("population.json"))

object BlsMirrorSync {

  private val hrefPatterns: Seq[Regex] = Seq(
    """href="(pr\.[^"]+)"""".r,
    """href='(pr\.[^']+)'""".r,
    """href=(pr\.[^\s>]+)""".r,
    """>(pr\.[^<\s]+)<""".r)

  /** Parse upstream file names out of a directory-listing HTML page. */
  def discoverRemoteFiles(listingHtml: String): Seq[String] =
    hrefPatterns
      .flatMap(_.findAllMatchIn(listingHtml).map(_.group(1)))
      .distinct
      .filter(f => f.nonEmpty && f.startsWith("pr."))
      .sorted

  /** A write-once run record's id: the UTC second, then a hash seeded
    * with the full-precision instant, so two runs in the same second
    * (common in tests, impossible in the daily schedule) still get
    * distinct records.
    */
  def runId(start: Instant, seed: String): String =
    DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(ZoneOffset.UTC).format(start) +
      "_" + Hashing.sha256(s"$start|$seed".getBytes("UTF-8")).take(8)

  def run(
      fetcher: HttpFetcher,
      store: FileStore,
      config: BlsSyncConfig,
      now: () => Instant = () => Instant.now()): BlsRunMeta = {
    val start = now()
    val runUtc = DateTimeFormatter.ISO_INSTANT.format(start.truncatedTo(java.time.temporal.ChronoUnit.SECONDS))
    val runId = BlsMirrorSync.runId(start, s"${config.dataSource}|${config.targetDir}")

    val metaDir = s"${config.targetDir}/_meta"
    val runsDir = s"$metaDir/runs"
    store.mkdirs(config.targetDir)
    store.mkdirs(runsDir)

    var uploaded, updated, skipped, deleted = 0
    var remoteCount: Option[Int] = None
    var localCountStart: Option[Int] = None
    var errors = Vector.empty[FileError]
    var status: Option[String] = None

    def buildAndWriteMeta(): BlsRunMeta = {
      val end = now()
      val meta = BlsRunMeta(
        run_id = runId,
        run_utc = runUtc,
        source = config.dataSource,
        target_dir = config.targetDir,
        delete_enabled = config.enableDelete,
        protected_files = config.protectedFiles.toSeq.sorted,
        remote_file_count = remoteCount,
        local_file_count_start = localCountStart,
        uploaded = uploaded, updated = updated, skipped = skipped, deleted = deleted,
        status = status,
        errors = errors,
        started_utc = runUtc,
        ended_utc = Some(DateTimeFormatter.ISO_INSTANT.format(end.truncatedTo(java.time.temporal.ChronoUnit.SECONDS))),
        duration_seconds = Some(java.time.Duration.between(start, end).getSeconds))
      val json = Json.write(meta).getBytes("UTF-8")
      // per-run record is write-once; latest.json is an overwritten pointer
      store.write(s"$runsDir/$runId.json", json, overwrite = false)
      store.write(s"$metaDir/latest.json", json, overwrite = true)
      meta
    }

    var result: BlsRunMeta = null
    try {
      val localFiles = store.listFiles(config.targetDir).toSet
      localCountStart = Some(localFiles.size)
      var deleteCandidates = localFiles

      val listing = fetcher.getText(config.dataSource) match {
        case Success(t) => t
        case Failure(e) => throw e
      }
      val remoteFiles = discoverRemoteFiles(listing)
      remoteCount = Some(remoteFiles.size)

      val base =
        if (config.dataSource.endsWith("/")) config.dataSource
        else config.dataSource + "/"
      remoteFiles.foreach { fileName =>
        val url = base + fileName
        val dst = s"${config.targetDir}/$fileName"
        // listed upstream → never a delete candidate, even if this
        // fetch fails (a transient 5xx must not destroy the local
        // mirror copy; deviation from the reference, which discards
        // only on success — 10_ingest_bls.ipynb:303)
        deleteCandidates -= fileName
        fetcher.get(url) match {
          case Success(remoteBytes) =>
            val remoteHash = Hashing.sha256(remoteBytes)
            if (!localFiles.contains(fileName)) {
              store.write(dst, remoteBytes, overwrite = true)
              uploaded += 1
            } else if (Hashing.sha256(store.read(dst)) != remoteHash) {
              store.write(dst, remoteBytes, overwrite = true)
              updated += 1
            } else {
              skipped += 1
            }
          case Failure(e) =>
            errors :+= FileError(Some(fileName), Some(url), e.toString)
        }
      }

      if (config.enableDelete) {
        deleteCandidates.toSeq.sorted.foreach { fileName =>
          if (!config.protectedFiles.contains(fileName)) {
            try {
              store.delete(s"${config.targetDir}/$fileName")
              deleted += 1
            } catch {
              case e: Exception =>
                errors :+= FileError(Some(fileName), None, s"delete_failed: $e")
            }
          }
        }
      }

      status = Some(if (errors.nonEmpty) "partial_success" else "success")
    } catch {
      case e: Exception =>
        status = Some("failed")
        errors :+= FileError(None, Some(config.dataSource), s"fatal: $e")
    } finally {
      // metadata is written even on failure, like the reference's finally
      result = buildAndWriteMeta()
    }
    result
  }
}
