package graft.vt

import scala.collection.mutable

/** Commit-DAG ancestry walks of the [[CommitGraph]].
  *
  * History is a DAG, not a chain, because merge commits record the merged-in
  * source head as a second parent ([[Commit.mergeParent]]) — the same model
  * as git and lakeFS commit graphs. The helpers take the graph's `load`
  * function.
  *
  * Cost: O(history) tiny JSON metadata reads in the worst case — these run on
  * the driver against the commit log, never against data files, so they are
  * irrelevant at 100 TB data scale (the commit graph grows with write count,
  * not data volume).
  */
private[vt] object Ancestry {

  /** Is `maybeAncestor` reachable from `of` through any parent edge? */
  def isAncestor(load: String => Commit, maybeAncestor: String, of: Commit): Boolean = {
    val seen = mutable.Set.empty[String]
    val queue = mutable.Queue(of)
    while (queue.nonEmpty) {
      val c = queue.dequeue()
      if (c.id == maybeAncestor) return true
      c.parents.foreach { p => if (seen.add(p)) queue.enqueue(load(p)) }
    }
    false
  }

  /** Ids of every commit reachable from `heads` through the FULL parent edge
    * set (first parent + mergeParent) — a first-parent lineage walk would
    * misclassify commits reachable only through a merge's second parent
    * (e.g. the pre-merge source head after a fast-forward) as orphans. */
  def reachableIds(load: String => Commit, heads: Seq[Commit]): Set[String] = {
    val seen = mutable.Set.empty[String]
    val queue = mutable.Queue.empty[Commit]
    heads.foreach(c => if (seen.add(c.id)) queue.enqueue(c))
    while (queue.nonEmpty) {
      val c = queue.dequeue()
      c.parents.foreach { pid => if (seen.add(pid)) queue.enqueue(load(pid)) }
    }
    seen.toSet
  }

  /** A LOWEST common ancestor of `a` and `b`: breadth-first from `b` in level
    * order, returning the first commit contained in `a`'s ancestor closure.
    * Level order makes the result nearest-first, so after `merge(src, dst)`
    * a later `mergeBase(srcHead', dstHead)` resolves to the previously merged
    * src head — the advanced base — rather than the original branch point. */
  def mergeBase(load: String => Commit, a: Commit, b: Commit): Option[Commit] = {
    val aClosure = mutable.Set.empty[String]
    val aq = mutable.Queue(a)
    while (aq.nonEmpty) {
      val c = aq.dequeue()
      if (aClosure.add(c.id)) c.parents.foreach(p => aq.enqueue(load(p)))
    }
    val seen = mutable.Set.empty[String]
    val bq = mutable.Queue(b)
    while (bq.nonEmpty) {
      val c = bq.dequeue()
      if (aClosure.contains(c.id)) return Some(c)
      c.parents.foreach { p => if (seen.add(p)) bq.enqueue(load(p)) }
    }
    None
  }
}
