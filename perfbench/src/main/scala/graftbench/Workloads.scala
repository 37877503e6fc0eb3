package graftbench

/** The benchmark's workloads: each is a fixed list of graft's named
  * queries (see `graft.SparkEntry`), chosen so that each workload has a
  * different dominant layer. The run's seed only permutes their order
  * inside each pass.
  *
  * The lists are subsets of the design lists in README.md: a run starts
  * a fresh JVM and must fit its set-up, warm-up and timed passes into a
  * few tens of seconds, so each list makes a warm pass of a few seconds
  * on 4 cores. */
object Workloads {
  val lists: Map[String, Seq[String]] = Map(
    // TPC-H multi-way joins with LIKE, IN and EXISTS/NOT EXISTS
    // subqueries: Catalyst/AQE planning and per-job cost
    "tpch" -> Seq("q3_shipping", "q5_local_supplier", "q9_profit",
      "q18_large_orders", "q21_waiting_supplier"),
    // driver-side fixpoint loops in operators/: a graph kernel and the
    // Components min-label propagation
    "iterative" -> Seq("q_graph_pagerank", "q_dedup_components"),
    // the sql/GpSqlDialect statement path: a PL cursor loop and a DML
    // rewrite, with writes beside reads
    "dialect" -> Seq("q_sql_cursor", "q_dml_update"))
}
