package org.apache.spark.graft

/** The executor-side session states of this JVM, each with its own class
  * loader (`IsolatedSessionState` is `private[spark]`). A job whose
  * session carries its own artifact state runs in a new one, and every
  * class compiled in a new loader misses Spark's codegen cache. */
object ExecutorSessions {
  def count: Int = org.apache.spark.executor.IsolatedSessionState.sessions.size
}
