package graft

import graft.ops._

/** The oracle names every artifact-backed face's artifact from the sf
  * alone: no face has to run first in the JVM, and each sf replays from
  * its own artifact — the directory the face's `ensure` then installs. */
class OracleArtifactSpec extends SparkTestBase {

  private val sfs = Seq(sf, new java.io.File(new java.io.File(sf).getParentFile,
    "sf0.01").toString)

  /** The artifact dirs each oracle entry must replay from, as the faces'
    * own `ensure` calls return them. */
  private def ensured(sf: String): Map[String, Set[String]] = {
    val trained = VectorOps.ensureTrainedIvf(spark, sf)
    val pq = PqOps.ensurePq(spark, sf)
    Map(
      "q_ivf_topk" -> Set(VectorOps.ensureCentroids(spark, sf)),
      "q_ivf_trained_topk" -> Set(trained),
      "q_ivf_topk_batch" -> Set(VectorOps.ensureTrainedIvf(spark, sf,
        nlist = VectorOps.batchNlist(spark, sf))),
      "q_pq_topk" -> Set(pq),
      "q_ivfpq_topk" -> Set(pq, trained),
      "q_sq8_topk" -> Set(VectorOps.ensureSq8(spark, sf)),
      "q_bpe_encode" -> Set(BpeOps.ensureBpe(spark, sf)),
      "q_nl_semantic_ground" -> Set(GroundOps.ensureGroundCollection(spark, sf)))
  }

  /** Artifact root of each parquet glob an oracle entry reads. */
  private val root = """read_parquet\('(.+?)/(?:[a-z]+/)?\*\.parquet'\)""".r

  test("artifact-backed oracle entries name each sf's own artifact before any face runs") {
    // oracle first: nothing below may depend on an artifact having been
    // ensured earlier in this JVM
    val oracle = sfs.map(sf => sf -> SparkEntry.oracleSql(spark, sf)).toMap
    val roots = sfs.map { sf =>
      val want = ensured(sf)
      sf -> want.map { case (key, dirs) =>
        val sql = oracle(sf).get(key)
        assert(sql.isDefined, s"$key has no oracle entry at $sf")
        val got = root.findAllMatchIn(sql.get).map(_.group(1)).toSet
        assert(got == dirs, s"$key at $sf replays from $got, ensure returned $dirs")
        key -> got
      }
    }.toMap
    roots(sfs(0)).foreach { case (key, dirs) =>
      assert((dirs intersect roots(sfs(1))(key)).isEmpty,
        s"$key: $sfs replay from the same artifact $dirs")
    }
  }
}
