package graft.tools

/** Ad-hoc cache-footprint probe for the graph loops: runs the
  * q_pagerank/q_graph_bfs-shaped builds at a given SF dir and prints
  * each persisted RDD's in-memory size — how the round-14 dict-packed
  * adjacency claim ("measured cache-size drop, identical hashes") was
  * measured. Usage: `runMain graft.tools.GraphMem <sfDir>`. */
object GraphMem {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("graft-graph-mem", shufflePartitions = Some(32))
    try {
      val dir = args(0)
      // the frames stay reachable until the listing below: a graph result
      // dropped by its caller frees its caches on the next GC
      val frames = Seq("q_pagerank", "q_label_prop").map { q =>
        val df = graft.SparkEntry.queries(q)(spark, dir)
        df.count()
        df
      }
      val infos = spark.sparkContext.getRDDStorageInfo
        .filter(i => i.memSize + i.diskSize > 0)
        .sortBy(-_.memSize)
      infos.foreach { i =>
        println(f"RDD ${i.id}%4d mem=${i.memSize}%10d disk=${i.diskSize}%8d " +
          f"parts=${i.numCachedPartitions}%3d  ${i.name}")
      }
      println(s"TOTAL mem=${infos.map(_.memSize).sum}")
      java.lang.ref.Reference.reachabilityFence(frames)
    } finally spark.stop()
  }
}
