package org.apache.spark.sql.graft

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.{ShutdownHookManager, Utils}

/** Scratch directories for queries that land data before they read it (a
  * lake table, an index, a bucketed copy), and the scope that frees them.
  *
  * [[dir]] makes a fresh directory under `java.io.tmpdir` that Spark's
  * shutdown hook deletes recursively, so nothing a query lands outlives the
  * JVM. A resident JVM that runs query after query wraps each one's
  * terminal action in [[scoped]], which frees what the query left behind as
  * soon as the action returns. Lives in this package for Spark's
  * `private[spark]` temp-dir and shutdown-hook helpers.
  */
object Workspace {

  /** The open scopes of this thread, innermost first. */
  private val open = new ThreadLocal[List[ArrayBuffer[File]]] {
    override def initialValue(): List[ArrayBuffer[File]] = Nil
  }

  /** A new empty directory named `<prefix>-<uuid>`; the innermost scope
    * open on this thread deletes it when it closes, the JVM's exit
    * otherwise. The caller's DataFrames may read from it lazily. */
  def dir(prefix: String): String = {
    val d = Utils.createTempDir(namePrefix = prefix)
    open.get.headOption.foreach(_ += d)
    d.getAbsolutePath
  }

  /** Run `body`, then delete every [[dir]] it made on this thread and
    * unpersist every RDD that became persistent while it ran (local
    * checkpoints, `persist()`ed frames). Run a query's action inside: a
    * DataFrame returned out of the scope may read deleted files. A dir
    * that cannot be deleted stays registered for deletion at exit. */
  def scoped[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    val made = ArrayBuffer.empty[File]
    open.set(made :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      made.foreach { d =>
        try {
          Utils.deleteRecursively(d)
          ShutdownHookManager.removeShutdownDeleteDir(d)
        } catch { case NonFatal(e) =>
          System.err.println(s"[graft] could not delete workspace $d: $e")
        }
      }
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!persisted(id)) rdd.unpersist(blocking = false)
      }
    }
  }
}
