package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The banded-collision join every LSH-style dedup family makes its
  * candidates with: MinHash bands over text ([[Dedup]] and the
  * [[graft.streaming.DedupIngest]] store), SRP sign bands over
  * embeddings ([[Vectors]]) and pigeonhole bit-bands over media hashes
  * ([[Multimodal]]). A BANDED relation is `(id, __band, __key)` plus
  * optional payload columns; two rows collide iff they agree on
  * `(__band, __key)`. Each family keeps only what is its own: how it
  * bands, which counter it records, and its exact rescore. Families
  * materialize their pairs with [[graft.Metrics.counted]], which reads
  * the candidate volume off the same job.
  *
  * Only ids (and a probe's payload) travel through the band exchange,
  * and a pair colliding in several bands appears once per collision,
  * so both joins dedupe their pairs before the caller's (more
  * expensive) rescore. No partition count is pinned: the band-keyed
  * and id-keyed exchanges are sized by AQE, the one rule every band
  * join follows. */
private[graft] object Bands {

  /** Distinct `(id_a, id_b)` pairs with `id_a < id_b` that collide in
    * at least one band of `banded` (the upper triangle of its band
    * self-join; payload columns are not carried). */
  def selfJoin(banded: DataFrame, id: String): DataFrame = {
    def side(as: String) = banded.select(col("__band"), col("__key"), col(id).as(as))
    side("id_a").join(side("id_b"), Seq("__band", "__key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** The one-way probe: every `probe` row joined to the `corpus` rows
    * it collides with, `__band`/`__key` dropped and the remaining
    * columns (both sides' ids, which must be named apart, plus any
    * payload) distinct. The corpus is never paired with itself.
    *
    * The probe's distinct band keys semi-prune the corpus BELOW its
    * exchange, broadcast when [[Dedup.maybeBroadcast]] proves them
    * small: at scale the corpus is a persisted ingest-time store and a
    * probe batch touches a vanishing fraction of the key space, so the
    * store-sized side must not shuffle in full for a handful of probes.
    * Cost-only: a corpus row matching no probe band key can never
    * collide. */
  def probeJoin(probe: DataFrame, corpus: DataFrame): DataFrame = {
    val keys = Seq("__band", "__key")
    val pKeys = probe.select(keys.map(col): _*).distinct()
    probe.join(corpus.join(Dedup.maybeBroadcast(pKeys), keys, "left_semi"), keys)
      .drop(keys: _*)
      .distinct()
  }
}
