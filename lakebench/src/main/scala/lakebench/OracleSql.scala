package lakebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import graft.SparkEntry

/** Writes the DuckDB oracle SQL of every benchmark gate that has one, as
  * a JSON object gate -> SQL, to the file named by the only argument. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = SparkEntry.oracleSql
    val gates = Workloads.all.values.flatten.toSeq.sorted.filter(sql.contains)
    val json = Report.J.Obj(gates.map(g => g -> Report.J.Str(sql(g))): _*).render
    Files.write(Paths.get(args(0)), json.getBytes(UTF_8))
  }
}
