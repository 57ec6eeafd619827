package graft

import graft.functions.ReferenceNames
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Sessions built with GraftExtensions carry every table function in
  * `ReferenceNames.tableFunctions` from the start, before any call
  * registers functions imperatively.
  */
class TableFunctionSpec extends SparkSpec with TmpDirSupport {

  test("a new session resolves every listed table function before any lake call") {
    val s = spark.newSession().asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val missing = ReferenceNames.tableFunctions.map(_._1)
      .filterNot(n => s.sessionState.tableFunctionRegistry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not registered: $missing")

    val root = tmpDir("list_partitions")
    val day = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "date=2024-01-02"))
    java.nio.file.Files.write(day.resolve("part-0.parquet"), Array.fill[Byte](7)(0))
    val rows = s.sql(s"SELECT * FROM list_partitions('$root')").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows === Seq(("2024-01-02", 1L, 7L)))
  }
}
