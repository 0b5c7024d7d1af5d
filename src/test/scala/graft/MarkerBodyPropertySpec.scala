package graft

import java.nio.file.Files

import org.scalacheck.Gen

import graft.similarity.IvfIndex
import graft.sources.{ManifestedPartitions => MP, VersionedView}

/** Property tests for the marker-body serialization the whole r18 commit
  * protocol rides on: every committed version's manifests, scalar
  * sidecars, and table references round-trip through ONE flat string in
  * the marker file, and all 375 oracle-compared queries resolve their
  * reads through it — a parse defect on an edge value (huge
  * writer-unique generation ids, zero-file entries, empty manifests,
  * empty scalar lists) would corrupt snapshots silently. Generated with
  * ScalaCheck Gens, evaluated through the REAL commit/read path
  * (commitManifestsCas → readEntries / readSidecarScalars on disk).
  */
class MarkerBodyPropertySpec extends SparkSpec {

  private val genEntry = for {
    part <- Gen.choose(0, 4095)
    // includes the freshGen band: (millis << 20) | entropy ≈ 1.8e18
    gen <- Gen.oneOf(Gen.choose(1L, 100L),
      Gen.choose(1L << 50, Long.MaxValue - 1))
    files <- Gen.choose(0, 10000)
    rows <- Gen.choose(0L, Long.MaxValue - 1)
  } yield MP.Entry(part, gen, files, rows)

  private val genEntries = for {
    n <- Gen.choose(0, 40)
    es <- Gen.listOfN(n, genEntry)
  } yield es.distinctBy(e => (e.part, e.gen)) // manifest key is (part, gen)

  private val genScalars = for {
    n <- Gen.choose(0, 8)
    kvs <- Gen.listOfN(n, for {
      k <- Gen.identifier.map(_.take(12)).suchThat(_.nonEmpty)
      v <- Gen.choose(Long.MinValue + 1, Long.MaxValue - 1)
    } yield (k, v))
  } yield kvs.distinctBy(_._1)

  test("manifest entries + scalar sidecars round-trip the marker body " +
    "exactly, across the writer-unique generation-id range") {
    val stage = Files.createTempDirectory("graft_body_prop")
    val root = stage.toString
    try {
      val sample = Gen.listOfN(60, Gen.zip(genEntries, genEntries,
        genScalars)).sample.get
      sample.zipWithIndex.foreach { case ((ea, eb, kvs), i) =>
        val v = i + 1L
        assert(MP.commitManifestsCas(spark, root, v,
          Map("alpha" -> ea, "beta" -> eb),
          sidecarScalars = Map("stats" -> kvs)),
          s"CAS lost on a fresh version $v")
        assert(MP.readEntries(spark, root, "alpha", v) == ea.sortBy(e => (e.part, e.gen)),
          s"alpha entries did not round-trip at v=$v")
        assert(MP.readEntries(spark, root, "beta", v) == eb.sortBy(e => (e.part, e.gen)),
          s"beta entries did not round-trip at v=$v")
        assert(MP.readSidecarScalars(root, "stats", v)
          .contains(kvs.toMap),
          s"scalar sidecar did not round-trip at v=$v")
      }
      // and the marker body survives a re-read through committedVersions
      assert(VersionedView.committedVersions(root).size == sample.size)
    } finally IvfIndex.deleteDir(root)
  }

  test("an empty manifest and an empty scalar list round-trip as empty, " +
    "not as a parse failure") {
    val stage = Files.createTempDirectory("graft_body_empty")
    val root = stage.toString
    try {
      assert(MP.commitManifestsCas(spark, root, 1L, Map("d" -> Nil),
        sidecarScalars = Map("stats" -> Nil)))
      assert(MP.readEntries(spark, root, "d", 1L).isEmpty)
      assert(MP.readSidecarScalars(root, "stats", 1L)
        .contains(Map.empty[String, Long]))
    } finally IvfIndex.deleteDir(root)
  }
}
