package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.graft.Workspace

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: restrict to these query names (builder's fast
    // inner loop; the driver always passes exactly two args → full dump)
    val only = args.drop(2).toSet
    val spark = Profile.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try Workspace.scoped(spark)(fn(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Side-inputs for generated oracles: landed model-state tables the
    // oracle SQL reads back via read_parquet('{OUT_DIR}/_side/…') — the
    // placeholder resolves to an ABSOLUTE path below, so the SQL works
    // from any working directory the driver runs DuckDB in. They land
    // in a SIBLING of outDir (not inside it): the driver enumerates
    // outDir subdirectories as query outputs, and an in-outDir landing
    // produced a phantom `_side` error row in CORRECTNESS_r14.
    val outAbs = new java.io.File(outDir).getAbsolutePath
    val sideAbs = outAbs + "_side"
    SparkEntry.sideInputs
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try Workspace.scoped(spark)(fn(spark, sfDir, s"$sideAbs/$name"))
        catch { case e: Throwable =>
          System.err.println(s"[verify] side-input $name failed: " +
            e.getMessage)
        }
      }
    val sql = SparkEntry.oracleSql.map { case (k, v) =>
      k -> v.replace("{OUT_DIR}/_side", sideAbs).replace("{OUT_DIR}", outAbs)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      JsonMapper.builder().addModule(DefaultScalaModule).build()
        .writeValueAsString(sql))
    spark.stop()
  }
}
