package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.artifact.ArtifactManager
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQuery

/** Session internals the streaming layer reads, which Spark 4 keeps
  * private[sql]: a session's artifact manager and a query's own session.
  */
object SessionBridge {

  /** `spark.sql.artifact.isolation.enabled`: whether jobs of a session run
    * under its own artifact state (and so, on executors, its own class
    * loader).
    */
  val IsolationKey: String = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key

  /** True when the session holds session-scoped artifacts, which only its
    * isolated artifact state can serve: classes or jars (the flag Spark's
    * own class-loader choice reads), or jars, files, archives or python
    * files registered with the SparkContext under the session's state. A
    * session of unknown kind counts as holding some.
    *
    * Both members are protected[artifact] in Scala and public in bytecode,
    * so they are read reflectively.
    */
  def holdsSessionArtifacts(spark: SparkSession): Boolean = spark match {
    case s: classic.SparkSession =>
      def member[T](name: String): T = classOf[ArtifactManager].getMethod(name)
        .invoke(s.artifactManager).asInstanceOf[T]
      member[AtomicBoolean]("sessionArtifactAdded").get ||
        !member[java.util.List[_]]("sparkContextRelativePaths").isEmpty
    case _ => true
  }

  /** The session a started query plans and runs its micro-batches on — the
    * clone `StreamExecution` makes of the caller's session at start.
    */
  def streamSession(q: StreamingQuery): SparkSession = q match {
    case w: StreamingQueryWrapper => w.streamingQuery.sparkSessionForStream
    case other => throw new IllegalArgumentException(
      s"not a classic streaming query: ${other.getClass.getName}")
  }
}
