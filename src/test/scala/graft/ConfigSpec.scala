package graft

import org.scalatest.funsuite.AnyFunSuite

class ConfigSpec extends AnyFunSuite {

  test("defaults mirror the reference") {
    val c = GraftConfig.fromEnv(Map.empty)
    assert(c.bronzeParallelRequests === 4)
    assert(c.dataStartYear === java.time.LocalDate.now().getYear - 5)
  }

  test("env overrides parse") {
    val c = GraftConfig.fromEnv(Map(
      "GRAFT_DATA_START_YEAR" -> "2020", "GRAFT_BRONZE_PARALLEL" -> "8",
      "GRAFT_LAKE_ROOT" -> "/data/lake"))
    assert(c.dataStartYear === 2020)
    assert(c.bronzeParallelRequests === 8)
    assert(c.lakeRoot === "/data/lake")
  }

  test("bounds are validated like the reference") {
    assertThrows[IllegalArgumentException] {
      GraftConfig.fromEnv(Map("GRAFT_BRONZE_PARALLEL" -> "0"))
    }
    assertThrows[IllegalArgumentException] {
      GraftConfig.fromEnv(Map("GRAFT_DATA_START_YEAR" -> "1800"))
    }
  }
}
