package graft.tools

/** Shared helpers for the bench/scale tools. */
private[graft] object ToolUtil {

  /** Local parallelism of every tool session: `SPARK_GRAFT_CPUS` when
    * set, else every available processor (the rule the test run uses). */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** 1-minute loadavg as a string ("?" off-Linux) — every scale ladder
    * records it per rung so shared-box noise is attributable. */
  def loadavg(): String =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ").head
    catch { case _: Exception => "?" }

  /** Best `"secs"` recorded in a BENCH leg JSON file (None when the
    * file or field is absent) — the ONE parser of the ad-hoc leg
    * format CopyLadder writes and ScalingBench's copy section reads,
    * so a schema change cannot silently desynchronize them. */
  def readLegSecs(path: String): Option[Double] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) None
    else """\"secs\":([0-9.]+)""".r
      .findFirstMatchIn(java.nio.file.Files.readString(p))
      .map(_.group(1).toDouble)
  }

  /** Recursively delete a directory tree if it exists — the one copy of
    * the walk-reverse-delete idiom every copy/write tool needs between
    * variants (several 9+ GB sinks at once fill the disk). */
  def deleteRec(path: String): Unit = {
    val d = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(d))
      java.nio.file.Files.walk(d).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }
}
