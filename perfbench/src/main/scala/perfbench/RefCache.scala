package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

/** Reference results kept for the life of one build: the datasets are
  * pure functions of the program's generators, so a reference computed
  * once (with Spark, in set-up) serves every later run of that build.
  * Every op is still checked against it. */
final class RefCache(dir: Path) {
  Files.createDirectories(dir)

  def checksum(key: String)(compute: => Checksum): Checksum = {
    val text = new String(bytes(s"$key.checksum") {
      val c = compute
      (c.rows.toString +: c.cols.map { case (lo, hi) => s"$lo,$hi" }).mkString(";").getBytes("UTF-8")
    }, "UTF-8").split(";")
    Checksum(text.head.toLong, text.tail.map { p =>
      val Array(lo, hi) = p.split(",")
      (lo.toLong, hi.toLong)
    }.toVector)
  }

  def bytes(key: String)(compute: => Array[Byte]): Array[Byte] = {
    val f = dir.resolve(key)
    if (Files.exists(f)) Files.readAllBytes(f)
    else {
      val b = compute
      val tmp = Files.createTempFile(dir, key, ".tmp")
      Files.write(tmp, b)
      Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      b
    }
  }
}
