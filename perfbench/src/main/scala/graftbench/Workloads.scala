package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

object Workloads {

  /** The queries a batch workload runs, one name per line in
    * `queries/<workload>.txt`; for `server-mixed`, its op kinds. */
  def queries(opts: Main.Opts): Seq[String] = opts.workload match {
    case "server-mixed" => Server.OpKinds
    case w => Files.readAllLines(Paths.get(opts.benchDir, "queries", s"$w.txt"), UTF_8)
      .asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
  }

  /** The generated tables a batch workload's queries read; set-up writes
    * only these. */
  def tables(workload: String): Seq[String] = workload match {
    case "pipeline-query" => Seq("documents", "embeddings")
    case _ => DataGen.Tables
  }

  /** A seeded rotation of `xs`: the same seed and pass give the same order. */
  def rotate[A](xs: Seq[A], seed: Long, pass: Int): Seq[A] =
    if (xs.isEmpty) xs
    else {
      val off = (new scala.util.Random(seed * 1000003L + pass).nextInt(xs.size))
      xs.drop(off) ++ xs.take(off)
    }
}

object Parallel {
  /** Applies `f` to every element, `threads` at a time, and returns the
    * results in input order; the first failure is rethrown. */
  def map[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(x)
      }))
      futures.map { fu =>
        try fu.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow()
  }

  def foreach[A](xs: Seq[A], threads: Int)(f: A => Unit): Unit = { map(xs, threads)(f); () }
}
