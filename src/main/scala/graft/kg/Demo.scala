package graft.kg

import graft.kg.gen.TranscriptGen
import graft.kg.pipeline.KgPipeline

/** End-to-end smoke driver: synthesize a transcripts table, run the full
  * extraction pipeline, print table counts + samples. Usage:
  *   sbt "runMain graft.kg.Demo [nConvs] [turnsPerConv]"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val nConvs = args.headOption.map(_.toInt).getOrElse(50)
    val turnsPerConv = args.lift(1).map(_.toInt).getOrElse(14)
    val spark = LocalSpark.session(LocalSpark.defaultCores, "graft-kg-demo")
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("graft_demo").toString
    TranscriptGen.turns(nConvs, turnsPerConv).toDF()
      .repartition(8).write.mode("overwrite").parquet(s"$dir/transcripts")
    val transcripts = spark.read.parquet(s"$dir/transcripts")
    println(s"transcripts: ${transcripts.count()} turns, $nConvs convs → $dir")

    val g = KgPipeline.graphs(spark, transcripts).cache()
    val nodes = KgPipeline.nodes(g)
    val edges = KgPipeline.edges(g)
    val triples = KgPipeline.triples(edges)
    println(s"nodes: ${nodes.count()}  edges: ${edges.count()}  triples: ${triples.count()}")
    println(s"justificationSets: ${KgPipeline.justificationSets(g).count()}  chains: ${KgPipeline.chains(g).count()}")

    println("--- tier histogram ---")
    KgPipeline.tierHistogram(KgPipeline.summaries(g)).show(10, truncate = false)
    println("--- sample triples ---")
    triples.orderBy("conv_id", "subj", "pred", "obj").show(15, truncate = false)
    println("--- orphans ---")
    KgPipeline.orphans(nodes, edges).groupBy("nodeType").count().show(10, truncate = false)
    println("--- per-type node counts ---")
    nodes.groupBy("nodeType").count().orderBy("nodeType").show(10, truncate = false)

    triples.write.mode("overwrite").parquet(s"$dir/triples")
    println(s"triples parquet written: ${spark.read.parquet(s"$dir/triples").count()} rows")
    spark.stop()
  }
}
