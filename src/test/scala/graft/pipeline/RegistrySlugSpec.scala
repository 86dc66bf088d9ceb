package graft.pipeline

import graft.SparkSpec

/** Registry slug hardening (r18 verdict nit → r19 item 7): the
  * permanent-removal registry and the model basis are named per corpus
  * DIR, and two dirs differing only in punctuation must never share a
  * registry — cross-corpus bleed there is a compliance bug (an id
  * removed from corpus A must not be barred from corpus B, and B's
  * basis must not advance on A's drops). The slug therefore carries an
  * md5 of the raw path on top of the readable alphanumeric fold. */
class RegistrySlugSpec extends SparkSpec {

  test("punctuation-variant corpus dirs get independent registries and bases") {
    // the classic collision pair under the alphanumeric fold:
    // both fold to ..._a_b
    val root = SparkSpec.tempDir("graft_slugreg")
    val dirA = s"$root/a/b"
    val dirB = s"$root/a_b"
    assert(dirA.replaceAll("[^A-Za-z0-9]", "_")
      === dirB.replaceAll("[^A-Za-z0-9]", "_")) // the hazard is real
    assert(Registry.regName(dirA, Registry.Doc)
      !== Registry.regName(dirB, Registry.Doc))

    // write through the public path: permanent removal on A only
    Registry.addPermanent(spark, dirA, Registry.Doc, Seq(7L, 9L))
    assert(Registry.ids(spark, dirA, Registry.Doc) === Seq(7L, 9L))
    // B's registry is untouched — no table, no ids, identity filter
    assert(Registry.ids(spark, dirB, Registry.Doc) === Nil)
    import spark.implicits._
    val df = Seq(7L, 8L, 9L).toDF("doc_id")
    assert(Registry.minus(spark, df, dirB, Registry.Doc, "doc_id")
      .count() === 3L)
    assert(Registry.minus(spark, df, dirA, Registry.Doc, "doc_id")
      .count() === 1L)
    // basis suffixes stay independent too: advancing A's generation
    // must not rename B's trained artifacts
    Registry.advanceBasis(spark, dirA, Registry.Doc)
    assert(Registry.basisSuffix(spark, dirA, Registry.Doc).nonEmpty)
    assert(Registry.basisSuffix(spark, dirB, Registry.Doc).isEmpty)
  }
}
