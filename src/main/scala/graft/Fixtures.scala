package graft

/** The two fixture roots every main and spec reads: the harness
  * datasets (`sf0.001`, `sf0.01`, `sf0.1`, … as parquet tables) and the
  * paper's reference logs and goldens (absent on most hosts; the golden
  * replay cancels per missing file). */
object Fixtures {
  val testdata = "/root/testdata"
  val reference = "/root/reference"
}
