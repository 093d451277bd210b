package perfbench

import java.io.File
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run of a workload shares: the session, its scratch directory,
  * the seed, and the tracer when the run is traced. */
final case class Ctx(spark: SparkSession, work: File, seed: Long, cores: Int,
                     tracer: Option[Tracer]) {
  /** Times a call into the program's public API (a span when traced). */
  def call[T](name: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = tracer match {
      case Some(t) => t.span(name)(f)
      case None => f
    }
    (v, (System.nanoTime() - t0) / 1e6)
  }
}

/** The outcome of one op: the answer to check, the rows it returned, the
  * time spent inside the public call itself, and what it wrote. */
final case class OpOut(answer: Any, rows: Long, callMs: Double,
                       filesWritten: Long = 0, dirsWritten: Long = 0,
                       bytesWritten: Long = 0)

final case class OpSpec(kind: String, key: String, run: () => OpOut)

final case class Sample(id: String, kind: String, key: String, ms: Double,
                        out: Option[OpOut], error: String, tmpLeft: Int) {
  def ok: Boolean = out.isDefined
}

object Loop {
  val OpTimeoutSec = 60L
  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }
  private var opCounter = 0

  /**
   * A closed loop with one client: runs `ops` ops, cycling through `specs`.
   * Each op runs under a job group equal to its id; a watchdog cancels the
   * group after [[OpTimeoutSec]] and the op counts as failed.
   */
  def closed(ctx: Ctx, specs: IndexedSeq[OpSpec], ops: Int, tmp: TmpWatch): Seq[Sample] = {
    val sc = ctx.spark.sparkContext
    val out = mutable.ArrayBuffer.empty[Sample]
    var i = 0
    while (i < ops) {
      val spec = specs(i % specs.length)
      opCounter += 1
      val id = s"op-$opCounter"
      val before = tmp.snapshot()
      sc.setJobGroup(id, s"${spec.kind} ${spec.key}", interruptOnCancel = true)
      val timer = watchdog.schedule(new Runnable {
        def run(): Unit = sc.cancelJobGroup(id)
      }, OpTimeoutSec, TimeUnit.SECONDS)
      val s0 = System.nanoTime()
      val res = try {
        val r = ctx.tracer match {
          case Some(t) => t.op(id, spec.kind, spec.key)(spec.run())
          case None => spec.run()
        }
        Right(r)
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      finally { timer.cancel(false); sc.clearJobGroup() }
      val ms = (System.nanoTime() - s0) / 1e6
      out += Sample(id, spec.kind, spec.key, ms, res.toOption, res.left.toOption.orNull,
        tmp.newSince(before).size)
      i += 1
    }
    out.toSeq
  }
}

/** Watches where the program leaves temp directories — `graft_*` entries
  * under /tmp and directories under the JVM's temp dir (the JVM's own files
  * there, such as extracted native libraries, are not counted) — so leftovers
  * are counted per op and only the run's own are removed at the end. */
final class TmpWatch(jvmTmp: File) {
  private val start = snapshot()

  def snapshot(): Set[File] =
    (Option(TmpWatch.SystemTmp.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft_")) ++
      Option(jvmTmp.listFiles()).toSeq.flatten.filter(_.isDirectory)).toSet

  def newSince(before: Set[File]): Set[File] = snapshot() -- before

  /** Deletes what appeared since the watch began; returns how many. */
  def removeOwn(): Int = {
    val own = newSince(start)
    own.foreach(Files.deleteTree)
    own.size
  }
}

object TmpWatch {
  val SystemTmp = new File("/tmp")
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (files, directories, bytes) under `root`, ignoring checksum and marker files. */
  def footprint(root: File): (Long, Long, Long) = {
    var files = 0L; var dirs = 0L; var bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) { dirs += 1; Option(f.listFiles()).foreach(_.foreach(walk)) }
      else if (!f.getName.startsWith(".") && !f.getName.startsWith("_")) {
        files += 1; bytes += f.length()
      }
    walk(root)
    (files, dirs - 1, bytes)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile with at least ten samples above it, as
    * (percentile, value); None when there are fewer than eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val idx = s.size - 11
      Some((100.0 * (idx + 1) / s.size, s(idx)))
    }

  def timeMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e6)
  }
}
