package graft

/** Shapes read off a physical plan's string, shared by the plan specs. */
object PlanShapes {

  /** Whether `plan` holds a Window with no PARTITION BY: every row of its
    * input goes to one task.
    *
    * Physical WindowExec prints "Window [exprs], [partSpec], [order]" (two
    * "], [" separators) when both specs are present, and OMITS an empty
    * group entirely: unpartitioned-with-order prints "Window [exprs],
    * [order]" (one separator, the trailing group carries ASC/DESC), and
    * partitioned-without-order prints "Window [exprs], [partCols]" (one
    * separator, bare columns, not a scale hazard). No Spark 4 plan prints
    * "PartitionBy", and "], [], [" matches neither shape. */
  def unpartitionedWindow(plan: String): Boolean = {
    def sepCount(l: String): Int = {
      var c = 0; var i = l.indexOf("], [")
      while (i >= 0) { c += 1; i = l.indexOf("], [", i + 1) }
      c
    }
    plan.linesIterator.exists { l =>
      val isWin = l.trim.startsWith("Window ") ||
        l.contains("+- Window ") || l.contains(":- Window ")
      isWin && {
        val i = l.lastIndexOf("], [")
        if (i < 0) true // a Window with no spec groups at all is global
        else {
          val tail = l.substring(i + 4)
          sepCount(l) < 2 &&
            (tail.contains(" ASC") || tail.contains(" DESC"))
        }
      }
    }
  }
}
