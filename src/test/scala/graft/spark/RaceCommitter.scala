package graft.spark

/** Spawned as a SEPARATE JVM by CrossProcessCommitSpec: appends `n` commits
  * to the table as fast as possible, so two processes genuinely race on the
  * version claim (the in-process write lock serializes only within a JVM).
  * Args: tableDir appTag nCommits seedFile. Exits 0 only if every commit
  * returned a version. */
object RaceCommitter {
  def main(args: Array[String]): Unit = {
    val Array(table, tag, nStr, seed) = args
    val n = nStr.toInt
    val f = StrawIO.fs(table)
    for (i <- 0 until n) {
      val dst = new org.apache.hadoop.fs.Path(table, s"part-race-$tag-$i.strb")
      org.apache.hadoop.fs.FileUtil.copy(
        f, new org.apache.hadoop.fs.Path(seed), f, dst, false, StrawIO.conf)
      val st = f.getFileStatus(dst)
      val meta = StrawIO.FileMeta(f.makeQualified(dst).toString,
        st.getModificationTime, st.getLen)
      val v = StrawLog.commit(table, Seq(StrawLog.entryFor(meta)),
        op = s"append $tag-$i")
      require(v > 0, s"commit $tag-$i returned $v")
    }
    println(s"RACE-DONE $tag")
  }
}
