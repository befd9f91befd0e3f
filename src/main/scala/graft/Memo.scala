package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

object Memo {

  /** The repo's one memo: per (SparkSession, key), shared by `Tables` and
    * `Scratch`. Session keys are weak: the memo lives for the process,
    * and strong keys would pin every stopped session's context forever.
    * A value that references its session (a DataFrame does) keeps its own
    * weak key reachable, so such an entry lives as long as the memo.
    *
    * get/putIfAbsent rather than computeIfAbsent: a mapping function that
    * touches the same memo (memoized frames derived from other memoized
    * frames) throws "Recursive update" under computeIfAbsent; with
    * get/putIfAbsent an occasional racing double-compute is harmless and
    * the first insert wins.
    */
  final class PerSession[K, V] {
    private val bySession =
      new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[K, V]]()

    def apply(spark: SparkSession, key: K)(mk: => V): V = {
      val m = bySession.synchronized {
        var m = bySession.get(spark)
        if (m == null) {
          m = new ConcurrentHashMap[K, V]()
          bySession.put(spark, m)
        }
        m
      }
      val cached = m.get(key)
      if (cached != null) cached
      else {
        val v = mk
        val prev = m.putIfAbsent(key, v)
        if (prev != null) prev else v
      }
    }
  }
}
