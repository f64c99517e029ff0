package graft.streaming

import graft.graph.GraphOps.State
import graft.ingest.Pipeline

/** The input of an incremental [[StateStore.write]] for a test that holds
  * the FULL next state and knows which asset ids changed: the state's
  * asset rows in those ids' buckets (every other table empty), and the
  * loaded map that declares exactly those buckets.
  */
object AssetBuckets {
  def apply(st: State, ids: Seq[String],
      cfg: StateStore.Config): (State, Option[Map[String, Set[Int]]]) = {
    val b = ids.map(StateStore.bucketIdFor(_, cfg.buckets)).toSet
    val assets = st.assets.filter(StateStore.bucket(Seq("id"), cfg.buckets).isin(b.toSeq: _*))
    (Pipeline.emptyState(st.assets.sparkSession).copy(assets = assets), Some(Map("assets" -> b)))
  }
}
