package graft

import java.nio.file.{Files, Paths}

/** Writes PLANS.md: a per-query summary of the physical-plan
  * properties the 100 TB design depends on — scan schemas (pruning),
  * pushed filters, join strategies, codegen, top-k planning. Run after
  * plan-affecting changes; diff the file to spot regressions the
  * result-correctness gate cannot see.
  *
  * Usage: sbt "runMain graft.PlanAudit [sfDir] [outFile]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession.local("graft-plan-audit",
      // full scan schemas in plan strings — the default 100-char cap
      // would hide pruning regressions past the truncation point
      extraConfigs = Map("spark.sql.maxMetadataStringLength" -> "2000"))

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit\n\n")
    sb.append(s"Generated by `graft.PlanAudit` over `$sfDir`. Regenerate after\n")
    sb.append("plan-affecting changes and diff; the correctness gate cannot see\n")
    sb.append("a lost pushdown or a join-strategy regression, this file can.\n\n")

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val raw = fn(spark, sfDir).queryExecution.executedPlan.toString
        // The plan STRING reprints a cached relation's entire subplan
        // under every InMemoryTableScan that references it, so a grep
        // over the raw string counts one physical scan N times (the
        // runtime executes the cached plan ONCE and the references read
        // TableCacheQueryStage). Split the string into the main tree
        // and the DISTINCT cached-plan blocks, and count scans in each
        // cached block once, marked as such.
        val lines = raw.linesIterator.toList
        // tree depth = offset of the node name past the drawing prefix
        // (spaces, :, +, -, and whole-stage-codegen "*(NN) " tags)
        def ind(l: String): Int = {
          val i = l.indexWhere(c => !(" :+-*()0123456789".contains(c)))
          if (i < 0) l.length else i
        }
        val main = new StringBuilder
        // reprints of the same relation differ only by expression /
        // plan ids and by the tree depth of the reprint site —
        // normalize both away for the distinctness key
        def norm(s: String): String = s.linesIterator
          .map(l => l.drop(ind(l))).mkString("\n")
          .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
        val blocks = scala.collection.mutable.LinkedHashMap.empty[String, String]
        var block: StringBuilder = null; var blockInd = -1
        def closeBlock(): Unit = if (block != null) {
          val b = block.toString; blocks.getOrElseUpdate(norm(b), b); block = null
        }
        for (l <- lines) {
          if (block != null && ind(l) > blockInd) block.append(l).append('\n')
          else {
            closeBlock()
            if (l.contains("InMemoryRelation")) { block = new StringBuilder; blockInd = ind(l) }
            main.append(l).append('\n')
          }
        }
        closeBlock()
        // a subquery's expression id (`ScalarSubquery#<id>` in a pushed
        // filter) changes on every run: masked before any line is
        // emitted; data literals such as TPC-H's `Brand#23` are kept
        def masked(t: String): String = t.replaceAll("(Subquery)#\\d+", "$1#")
        val plan = masked(main.toString)
        val cachedOnce = masked(blocks.values.mkString("\n"))
        // keep duplicates but annotate with a count — two identical
        // scans collapsing to one line would hide a regression that
        // strips pruning/pushdown from only one of them
        def grouped(matches: List[String]): List[String] =
          matches.groupBy(identity).toList.sortBy(_._1)
            .map { case (line, hits) =>
              if (hits.size > 1) s"$line (x${hits.size})" else line }
        // within a cached block, AQE can print the same scan in both
        // its current and initial plan — distinct, not counted
        val scans = grouped("ReadSchema: [^\n]*".r.findAllIn(plan).toList) ++
          "ReadSchema: [^\n]*".r.findAllIn(cachedOnce).toList.distinct
            .map(s => s"$s (cached: executed once, reread per branch)")
        val pushed = grouped(
          // to end of line: filters like In(c, [a,b]) contain brackets
          "PushedFilters: \\[[^\n]*".r.findAllIn(plan).toList
            .filter(_.length > "PushedFilters: []".length)) ++
          "PushedFilters: \\[[^\n]*".r.findAllIn(cachedOnce).toList.distinct
            .filter(_.length > "PushedFilters: []".length)
            .map(s => s"$s (cached)")
        def n(marker: String) = plan.linesIterator.count(_.contains(marker))
        val joins = Seq(
          "BroadcastHashJoin" -> n("BroadcastHashJoin"),
          "SortMergeJoin" -> n("SortMergeJoin"),
          "ShuffledHashJoin" -> n("ShuffledHashJoin"),
          "BroadcastNestedLoopJoin" -> n("BroadcastNestedLoopJoin"),
          "AsOfJoin(native)" -> n("AsOfJoin"))
          .filter(_._2 > 0).map { case (k, v) => s"$k x$v" }
        val notable = Seq(
          if (plan.contains("TakeOrderedAndProject")) Some("TakeOrderedAndProject") else None,
          if (plan.contains("Window")) Some("Window") else None,
          if (plan.contains("Expand")) Some("Expand(grouping-sets/distinct)") else None,
          if (plan.contains("Generate")) Some("Generate(explode)") else None,
          if (plan.contains("InMemoryTableScan")) Some("InMemoryTableScan(cache)") else None
        ).flatten
        sb.append(s"## $name\n")
        sb.append(s"- joins: ${if (joins.isEmpty) "none" else joins.mkString(", ")}\n")
        if (notable.nonEmpty) sb.append(s"- operators: ${notable.mkString(", ")}\n")
        scans.foreach(s => sb.append(s"- scan $s\n"))
        pushed.foreach(p => sb.append(s"- $p\n"))
        sb.append("\n")
      } catch {
        case e: Throwable =>
          sb.append(s"## $name\n- PLAN FAILED: ${String.valueOf(e).take(200)}\n\n")
      }
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
