package graft.queries

import org.apache.spark.sql.SparkSession

/** A memo holding one value per (session, key) — a fitted model, a stored
  * index root, a shared frame — built on first use. Entries of stopped
  * sessions are dropped on access, so a long-lived process cannot retain
  * the values of dead sessions (the bench/verify mains are single-session,
  * so this is a one-pass no-op there).
  *
  * Keep one memo per kind of value: a build may read another memo
  * (`pqResidualModel` reads `kmeansModel`), and a build re-entering the map
  * it is building into is rejected by `ConcurrentHashMap.computeIfAbsent`. */
final class PerSession[V] {
  private val memo = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), V]()

  def apply(spark: SparkSession, key: String)(build: => V): V = {
    memo.keySet.removeIf(_._1.sparkContext.isStopped)
    memo.computeIfAbsent((spark, key), _ => build)
  }
}
