package graft.queries

import org.apache.spark.SparkFiles
import org.apache.spark.sql.SparkSession

/** Session identity for per-(session, artifact) caches
  * ([[Pipeline.publishedCard]], Similarity's served-index cache).
  * `System.identityHashCode` is NOT unique — a stopped session and a
  * live one can collide and serve a frame bound to a dead session —
  * so the key is the session's UUID (via the graftvec sql-subpackage
  * seam; the member is private[sql]). */
private[graft] object GraftCaches {
  private def sessionKey(s: SparkSession): String =
    org.apache.spark.sql.graftvec.SessionIds.uuid(s)

  /** A publish-once artifact per (session, key): the first caller
    * writes it into a fresh `prefix*` directory and keeps what it
    * reads back. The directory lives under the driver's SparkFiles
    * root, which `SparkEnv.stop()` deletes, so the artifact dies with
    * the context whose entry is evicted here (entries whose context
    * has stopped go before every lookup, so a long-lived JVM's
    * session-per-suite pattern holds no dead frames). Driver-local:
    * executors on a real cluster cannot read it. */
  final class Published[T](prefix: String, sessionOf: T => SparkSession) {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, T]()

    def apply(s: SparkSession, key: String)(publish: String => T): T = {
      cache.entrySet().removeIf(e => sessionOf(e.getValue).sparkContext.isStopped)
      cache.computeIfAbsent(s"${sessionKey(s)}|$key", _ => publish(
        java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get(SparkFiles.getRootDirectory()), prefix).toString))
    }
  }
}
