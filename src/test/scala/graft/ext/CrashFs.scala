package graft.ext

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A `file:` filesystem that dies at the armed thread's Nth mutating call
  * (create, rename, delete) — counting every call but those on Spark's own
  * `_temporary` commit-protocol dirs, which are out of scope. The crash is
  * a VirtualMachineError, so no NonFatal handler swallows it, and every
  * later mutating call of the thread fails too: nothing runs after a real
  * crash. A create that crashes leaves its file truncated — what a crash
  * mid-write leaves behind an overwriting create.
  *
  * It also counts the successful `open` calls per path while
  * [[CrashFs.opens]] runs — how a spec sees how often an op reads a
  * sidecar. */
class CrashFs extends LocalFileSystem {
  import CrashFs._

  private def step(p: Path, counted: Boolean = true, torn: => Unit = ()): Unit =
    if (armed eq Thread.currentThread()) {
      if (dead) throw new Crash
      if (counted && !p.toString.contains("/_temporary")) {
        steps += 1
        if (steps == crashAt) { dead = true; torn; throw new Crash }
      }
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    step(f, torn = super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress).close())
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    step(src); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    step(f, counted = exists(f)) // deleting nothing changes no state
    super.delete(f, recursive)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    val counts = opened
    if (counts != null)
      counts.computeIfAbsent(f.toUri.getPath, _ => new AtomicInteger).incrementAndGet(): Unit
    in
  }
}

object CrashFs {
  final class Crash extends VirtualMachineError("injected crash")
  @volatile private var armed: Thread = _
  @volatile private var crashAt = 0
  @volatile private var steps = 0
  @volatile private var dead = false
  @volatile private var opened: ConcurrentHashMap[String, AtomicInteger] = _

  /** Run `body` with every `file:` filesystem of the session a [[CrashFs]]. */
  private def installed[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[CrashFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
  }

  /** Run `body` on a [[CrashFs]] that crashes at mutating call `n`; true
    * when it crashed, false when `body` completed first. */
  def run(spark: org.apache.spark.sql.SparkSession, n: Int)(body: => Unit): Boolean =
    installed(spark) {
      crashAt = n; steps = 0; dead = false; armed = Thread.currentThread()
      // Spark may wrap the crash of its own commit; the flag is the truth
      try { body; false }
      catch { case _: Throwable if dead => true }
      finally armed = null
    }

  /** Run `body` on a [[CrashFs]]; the successful `open` calls it made, by
    * path, from any thread. */
  def opens(spark: org.apache.spark.sql.SparkSession)(body: => Unit): Map[String, Int] =
    installed(spark) {
      val counts = new ConcurrentHashMap[String, AtomicInteger]()
      opened = counts
      try body finally opened = null
      counts.asScala.map { case (p, n) => p -> n.get }.toMap
    }
}
