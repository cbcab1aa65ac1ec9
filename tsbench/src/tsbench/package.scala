package object tsbench {
  /** A run's raw record: measurements, checks and failure counts, written
    * as JSON for the runner to turn into metrics. */
  type Record = scala.collection.mutable.LinkedHashMap[String, Any]
}
