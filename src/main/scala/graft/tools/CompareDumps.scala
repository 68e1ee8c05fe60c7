package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.Sessions

/** Dev-only: bit-compare two Verify output dirs (args: dirA dirB name...).
  * Names that are not directories under dirA (a Verify dir's
  * `oracle_sql.json`) are skipped, so `$(ls dirA)` serves as the list.
  * Canonicalizes exactly like the driver's gate: columns sorted by name,
  * rows sorted by every column, values via toString (distinct per double
  * bit pattern) — so "identical" here means hash-identical at the gate. */
object CompareDumps {
  def main(args: Array[String]): Unit = {
    val Array(dirA, dirB, names @ _*) = args
    val spark = Sessions.local("8")
    def canon(path: String): Seq[String] = {
      val df = spark.read.parquet(path)
      val cols = df.columns.sorted.toSeq
      // length-prefixed value encoding: no separator choice can be
      // ambushed by a value containing it — ("ab","c") and ("a","bc")
      // canonicalize to "2:ab|1:c" vs "1:a|2:bc", never one string.
      // SQL NULL gets its own un-prefixed marker so it can never collide
      // with the literal string "null" (which canonicalizes to "4:null")
      df.select(cols.map(col): _*).collect()
        .map(r => (0 until r.length).map { i =>
          if (r.isNullAt(i)) "N!"
          else { val v = String.valueOf(r.get(i)); s"${v.length}:$v" }
        }.mkString("|"))
        .toSeq.sorted
    }
    var bad = 0
    names.filter(n => Files.isDirectory(Paths.get(dirA, n))).foreach { n =>
      val (a, b) = (canon(s"$dirA/$n"), canon(s"$dirB/$n"))
      val same = a == b
      if (!same) {
        bad += 1
        println(s"[$n] MISMATCH rowsA=${a.size} rowsB=${b.size}")
        a.diff(b).take(3).foreach(r => println(s"  onlyA: $r"))
        b.diff(a).take(3).foreach(r => println(s"  onlyB: $r"))
      } else println(s"[$n] identical (${a.size} rows)")
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
