package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL-facing queries register their tables as temp views only for
  * the call: a user's own view of the same name keeps its rows, the
  * session's temp-view set is the same after each query, and the
  * answers are the same as in a session holding no such views.
  */
class SqlViewsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf
  private val sqlQueries = Seq("sql_revenue_by_priority", "grouping_sets_orders", "sql_mr_wc")

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  private def run(q: String, dir: String = sf): Seq[Seq[Any]] =
    SparkEntry.queries(q)(spark, dir).collect().map(_.toSeq).toSeq

  test("sql queries leave the session's temp views as they found them") {
    import spark.implicits._
    val before = tempViews
    val answers = sqlQueries.map { q =>
      val rows = run(q)
      assert(rows.nonEmpty, s"$q returned no rows")
      assert(tempViews == before, s"$q left temp views behind: ${tempViews -- before}")
      q -> rows
    }.toMap

    // user views under the names the queries address in their SQL
    val userViews = Seq("orders", "lineitem", "mr_input")
    userViews.foreach(v => Seq((1, "mine"), (2, "mine")).toDF("x", "tag").createOrReplaceTempView(v))
    try {
      val withUser = tempViews
      sqlQueries.foreach { q =>
        assert(run(q) == answers(q), s"$q answered differently beside a user view")
        assert(tempViews == withUser, s"$q changed the temp views: ${tempViews.diff(withUser)}")
        userViews.foreach { v =>
          val rows = spark.table(v).collect().map(_.toSeq).toSeq
          assert(rows == Seq(Seq(1, "mine"), Seq(2, "mine")), s"$q replaced the user view $v")
        }
      }
    } finally userViews.foreach(spark.catalog.dropTempView)
  }

  test("concurrent sql queries on different dirs each read their own tables") {
    val dirs = Seq(sf, s"${new java.io.File(sf).getParent}/sf0.01")
    val alone = dirs.map(d => d -> run("grouping_sets_orders", d)).toMap
    assert(alone(dirs(0)) != alone(dirs(1)), "the two dirs must answer differently")
    val got = new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Any]]]()
    val threads = dirs.map(d => new Thread(() => { got.put(d, run("grouping_sets_orders", d)); () }))
    threads.foreach(_.start()); threads.foreach(_.join())
    dirs.foreach(d => assert(got.get(d) == alone(d), s"$d read another call's tables"))
  }
}
