package object perfbench {
  /** A call's output collected to the driver: one map per row, by column. */
  type Rows = Seq[Map[String, Any]]
}
