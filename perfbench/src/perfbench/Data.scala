package perfbench

import java.io.{BufferedWriter, File, FileWriter}

/** The benchmark's inputs. */
object Data {

  /** Seed of the catalog tables adhoc_sql reads (perfbench/data/sf0.01,
    * byte copies of the catalog's sf0.01 test tables). They are
    * read-only and fixed across runs: the workload seed only orders the
    * operations, so the committed output hashes stay valid. */
  val TablesSeed = 42L

  /** Expected content of the m33 fixture, as its writer computed it:
    * row count and exact integer column sums (wavelength in cents, flam
    * in tenths), to compare with what reaches the sink. */
  final case class M33Sums(rows: Long, ageMil: Long, isPeculiar: Long, wavelengthCents: Long, flamTenths: Long)

  val M33Ages: Seq[Int] = Seq(11, 12)
  val M33Partitions: Seq[String] = Seq("cp", "nocp")

  /** The m33 raw-text fixture in the layout of graft.sources.M33Fixture
    * (`<root>/{cp,nocp}/hmix.a<age>z0790`, three header lines, then
    * `<wavelength>␠␠<flam>` rows with odd rows indented), but with flam
    * values drawn from `seed`. Returns the data root and the sums. */
  def writeM33(base: String, rowsPerFile: Int, seed: Long): (String, M33Sums) = {
    val root = new File(base, "m33")
    var sums = M33Sums(0, 0, 0, 0, 0)
    for (part <- M33Partitions; age <- M33Ages) {
      val dir = new File(root, part)
      dir.mkdirs()
      val rnd = new java.util.SplittableRandom(seed * 1000003L + age * 31L + part.length)
      val w = new BufferedWriter(new FileWriter(new File(dir, f"hmix.a$age%06dz0790")), 1 << 20)
      var wl = 0L
      var fl = 0L
      try {
        w.write("# synthetic m33 spectral fixture\n# header line two\n# header line three\n")
        var i = 0
        while (i < rowsPerFile) {
          val cents = 300000L + i
          val tenths = rnd.nextLong(1000000L)
          if (i % 2 == 1) w.write(' ')
          w.write(s"${cents / 100}.${"%02d".format(cents % 100)}  ${tenths / 10}.${tenths % 10}\n")
          wl += cents
          fl += tenths
          i += 1
        }
      } finally w.close()
      sums = M33Sums(sums.rows + rowsPerFile, sums.ageMil + age.toLong * rowsPerFile,
        sums.isPeculiar + (if (part == "cp") rowsPerFile else 0), sums.wavelengthCents + wl, sums.flamTenths + fl)
    }
    (root.getAbsolutePath, sums)
  }
}
