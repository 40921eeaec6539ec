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
}
