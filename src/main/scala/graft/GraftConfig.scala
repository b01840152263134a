package graft

/** Engine configuration (reference `config.py:10-50`): env-overridable with
  * the same bounds validation (`config.py:39-45` — parallelism ≥ 1, start
  * year sane). Defaults mirror the reference's.
  */
final case class GraftConfig(
    dataStartYear: Int,
    bronzeParallelRequests: Int,
    lakeRoot: String) {
  require(bronzeParallelRequests >= 1,
    s"bronze_parallel_requests must be >= 1, got $bronzeParallelRequests")
  require(dataStartYear >= 1970 && dataStartYear <= 2100,
    s"data_start_year out of range: $dataStartYear")
}

object GraftConfig {
  def fromEnv(env: Map[String, String] = sys.env): GraftConfig = {
    def int(k: String, d: Int) = env.get(k).map(_.trim.toInt).getOrElse(d)
    GraftConfig(
      dataStartYear = int("GRAFT_DATA_START_YEAR",
        java.time.LocalDate.now().getYear - 5),
      bronzeParallelRequests = int("GRAFT_BRONZE_PARALLEL", 4),
      lakeRoot = env.getOrElse("GRAFT_LAKE_ROOT", "/tmp/graft_lake"))
  }
}
