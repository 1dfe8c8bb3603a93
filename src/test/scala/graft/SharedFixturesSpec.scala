package graft

import graft.queries.SharedFixtures

/** [[SharedFixtures.seeded]] memoizes one root per (dir, name) and
  * lets a fixture's build seed another fixture. */
class SharedFixturesSpec extends SparkSpec {

  test("a build may seed another fixture whose key shares its hash " +
    "bin, and each fixture builds once") {
    val dir = java.nio.file.Files.createTempDirectory("sf").toString
    // "Aa" and "BB" have equal String.hashCode, so the two keys
    // always land in the same map bin
    assert("Aa".hashCode == "BB".hashCode)
    var builds = 0
    val outer = SharedFixtures.seeded(spark, dir, "Aa") { _ =>
      builds += 1
      SharedFixtures.seeded(spark, dir, "BB") { _ => builds += 1 }
    }
    val inner = SharedFixtures.seeded(spark, dir, "BB") { _ =>
      builds += 1
    }
    assert(builds == 2)
    assert(outer != inner)
    assert(SharedFixtures.seeded(spark, dir, "Aa")(_ => builds += 1) ==
      outer && builds == 2)
  }
}
