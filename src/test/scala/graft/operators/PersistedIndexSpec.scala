package graft.operators

import graft.SparkSpec
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The [[PersistedIndex]] lifecycle contract, run unchanged over all
  * three index families (MinHash, SRP, IVF-PQ). */
class PersistedIndexSpec extends SparkSpec {
  import spark.implicits._

  /** One family: its fixture, its public lifecycle entry points, a probe
    * whose result compaction must not change, and its maintained-batch
    * step (as its public stream starter wires it). `extra` rows carry
    * ids the corpus does not. */
  private case class Family(name: String, idCol: String, valueCol: String,
      corpus: DataFrame, extra: DataFrame, index: String => PersistedIndex,
      write: (DataFrame, String) => Unit,
      append: (DataFrame, String) => DataFrame,
      remove: (DataFrame, String) => Long,
      compact: String => Unit,
      probe: String => DataFrame,
      step: String => DataFrame => (DataFrame, DataFrame))

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa")
  private def doc(seed: Int): String = {
    val r = new scala.util.Random(seed)
    (1 to 30).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
  }
  private def vec(seed: Int): Seq[Double] = {
    val r = new scala.util.Random(seed)
    Seq.fill(12)(r.nextGaussian())
  }
  private def docs(ids: Range) = ids.map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
  private def vecs(ids: Range) = ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
  // copies of corpus rows under fresh ids: they probe/serve to their originals
  private def docCopies = (1 to 5).map(i => (1000L + i, doc(i))).toDF("doc_id", "text")
  private def vecCopies = (1 to 5).map(i => (1000L + i, vec(i).map(_ * 1.5)))
    .toDF("vec_id", "embedding")

  private lazy val families = Seq(
    Family("minhash", "doc_id", "text", docs(1 to 30), docs(100 to 105),
      PersistedIndex.minhash,
      (c, t) => Dedup.writeMinhashIndex(c, "doc_id", "text", t),
      (a, t) => Dedup.appendMinhashIndex(a, "doc_id", "text", t),
      (r, t) => Dedup.removeFromMinhashIndex(r, "doc_id", "text", t),
      t => Dedup.compactMinhashIndex(spark, t),
      t => Dedup.minhashIncrementalPersisted(docCopies, "doc_id", "text", t, 0.5),
      t => EventStreams.dedupStep(Dedup.minhashIncrementalPersisted(
        _, "doc_id", "text", t, 0.5), "doc_id")),
    Family("srp", "vec_id", "embedding", vecs(1 to 30), vecs(100 to 105),
      PersistedIndex.embed,
      (c, t) => Dedup.writeEmbedIndex(c, "vec_id", "embedding", t,
        bits = 8, tables = 4),
      (a, t) => Dedup.appendEmbedIndex(a, "vec_id", "embedding", t),
      (r, t) => Dedup.removeFromEmbedIndex(r, "vec_id", "embedding", t),
      t => Dedup.compactEmbedIndex(spark, t),
      t => Dedup.embedIncrementalPersisted(vecCopies, "vec_id", "embedding", t, 0.99),
      t => EventStreams.dedupStep(Dedup.embedIncrementalPersisted(
        _, "vec_id", "embedding", t, 0.99), "vec_id")),
    Family("ivfpq", "vec_id", "embedding", vecs(1 to 40), vecs(100 to 105),
      t => PersistedIndex.ann(t, Similarity.loadIndexCodebooks(spark, t)),
      (c, t) => Similarity.writeAnnIndex(c, "vec_id", "embedding", t),
      (a, t) => Similarity.appendAnnIndex(a, "vec_id", "embedding", t),
      (r, t) => Similarity.removeFromAnnIndex(r, "vec_id", "embedding", t),
      t => Similarity.compactAnnIndex(spark, t),
      t => Similarity.annIvfPqServe(vecCopies, "vec_id", "embedding", t, k = 3),
      t => snap => (Similarity.annIvfPqServe(snap, "vec_id", "embedding", t,
        k = 3).localCheckpoint(), snap)))

  /** Write a fresh index for `f`, run `body` with its tag and
    * description, then drop every table it may have left. */
  private def withIndex(f: Family)(body: (String, PersistedIndex) => Unit): Unit = {
    val tag = s"pi_${f.name}_${System.nanoTime()}"
    f.write(f.corpus, tag)
    val index = f.index(tag)
    try body(tag, index)
    finally (index.tables.map(_.name) ++ index.frozen :+
        Dedup.commitsTableName(index.primary) :+ Similarity.annStatsTable(tag))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  private def fingerprints(index: PersistedIndex): Seq[Option[String]] =
    (index.tables.map(_.name) ++ index.frozen).map(Dedup.tableFingerprint(spark, _))

  private def counts(index: PersistedIndex): Seq[Long] =
    index.tables.map(t => spark.table(t.name).count())

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** A live lease on `key` held by another writer, for the body. */
  private def leaseHeldElsewhere[T](key: String)(body: => T): T = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val path = new org.apache.hadoop.fs.Path(wh, key + "_lease")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, false)
    out.writeLong(System.currentTimeMillis()); out.close()
    try body finally { fs.delete(path, false); () }
  }

  for (f <- families) {
    test(s"${f.name}: while the lease is held, append, remove and compact " +
         "fail fast and leave the index unchanged") {
      withIndex(f) { (tag, index) =>
        val before = counts(index)
        leaseHeldElsewhere(index.primary) {
          Seq[() => Any](() => f.append(f.extra, tag),
              () => f.remove(f.corpus.limit(1), tag), () => f.compact(tag))
            .foreach { op =>
              val e = intercept[IllegalStateException](op())
              assert(e.getMessage.contains("maintenance lease"), e.getMessage)
            }
        }
        assert(counts(index) == before)
      }
    }

    test(s"${f.name}: removing a row that was never indexed fails the " +
         "as-indexed require; tables and fingerprint stay unchanged") {
      withIndex(f) { (tag, index) =>
        val (n, fp) = (counts(index), fingerprints(index))
        val e = intercept[IllegalArgumentException](f.remove(f.extra.limit(1), tag))
        assert(e.getMessage.contains("must carry exactly the indexed"), e.getMessage)
        assert(counts(index) == n && fingerprints(index) == fp)
      }
    }

    test(s"${f.name}: compaction after an append leaves probe results " +
         "bit-equal") {
      withIndex(f) { (tag, _) =>
        f.append(f.extra, tag)
        val before = sorted(f.probe(tag))
        assert(before.nonEmpty, "the probe must hit the planted copies")
        f.compact(tag)
        assert(sorted(f.probe(tag)) == before)
      }
    }

    test(s"${f.name}: after append then remove, every table's fingerprint " +
         "is the resulting corpus's") {
      withIndex(f) { (tag, index) =>
        f.append(f.extra, tag)
        val gone = f.corpus.filter(col(f.idCol) <= 3)
        assert(f.remove(gone, tag) == 3L)
        val now = f.corpus.filter(col(f.idCol) > 3).unionByName(f.extra)
        val fp = Dedup.corpusFingerprint(now, f.idCol, f.valueCol)
        assert(fingerprints(index).forall(_.contains(fp)), fingerprints(index))
      }
    }

    test(s"${f.name}: a maintained batch reads its commits guard under the " +
         "lease; a batch id another writer committed first is a no-op") {
      withIndex(f) { (tag, index) =>
        var handedOut = 0
        def batch(df: DataFrame, id: Long): Unit =
          EventStreams.maintainedBatch(index, df, id, f.idCol, f.valueCol,
            (_, _) => handedOut += 1)(f.step(tag))
        val ct = Dedup.commitsTableName(index.primary)
        // a batch that cannot take the lease reads nothing: not even the
        // commits table is created before the lease
        leaseHeldElsewhere(index.primary) {
          intercept[IllegalStateException](batch(f.extra, 7L))
        }
        assert(!spark.catalog.tableExists(ct))
        // another writer commits batch 7
        batch(f.extra, 7L)
        assert(handedOut == 1)
        val (n, fp) = (counts(index), fingerprints(index))
        // this writer's batch 7 then takes the lease: a no-op
        batch(f.extra, 7L)
        assert(handedOut == 1, "a committed batch was served again")
        assert(counts(index) == n && fingerprints(index) == fp)
      }
    }
  }
}
