package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{lit, to_date}

import graft.model.{Analytics, MetabaseCards, Sources, Warehouse}

/** The paper's traffic: the 14 Metabase cards re-run over the dbt view
  * lineage on every refresh. The reference loads once per run, a full
  * replace at start-up, and then serves refreshes; so the ELT reload is
  * the set-up here and the closed loop is refreshes only.
  *
  * Samples: `op_ms` one refresh (14 cards), `card_ms` one card, and in
  * set-up `write_ms` one reload, `stored_ratio` parquet bytes over CSV
  * bytes. */
final class UfcDashboard(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}

  private val csvs = Seq("dim_ufc_event_details", "fact_ufc_fight_results",
    "title_status_changes_outside_octagon")
  private val csvBytes = csvs.map(n => Util.footprint(s"${ctx.data}/$n.csv")._1).sum
  private var lake = ""
  private val refreshDigests = scala.collection.mutable.ArrayBuffer.empty[String]

  /** ELT: CSV → full-replace parquet → read back → register the views. */
  private def reload(): Unit = {
    val t = System.nanoTime()
    val raw = tracer.span("model.load_csv")(
      csvs.map(n => Sources.readCsv(spark, s"${ctx.data}/$n.csv")))
    tracer.span("storage.write_replace")(
      csvs.zip(raw).foreach { case (n, df) => Sources.writeReplace(df, s"$lake/$n") })
    val Seq(ev, res, vac) = tracer.span("storage.read_back")(
      csvs.map(n => spark.read.parquet(s"$lake/$n")))
    tracer.span("model.register_views")(Warehouse.registerViews(spark, ev, res, vac))
    ctx.sample("write_ms", (System.nanoTime() - t) / 1e6)
    val (bytes, files) = Util.footprint(lake)
    ctx.sample("stored_ratio", bytes.toDouble / csvBytes)
    ctx.notes("files_per_serve") = files
  }

  /** One refresh: every card through spark.sql(...).collect(). */
  private def refresh(): String = {
    val t0 = System.nanoTime()
    val digests = MetabaseCards.all.zipWithIndex.map { case ((_, sql), n) =>
      val t = System.nanoTime()
      val df = spark.sql(sql)
      val rows = tracer.span(f"card.$n%02d")(df.collect())
      ctx.sample("card_ms", (System.nanoTime() - t) / 1e6)
      UfcDashboard.cardDigest(sql, df.schema.fieldNames.toIndexedSeq, rows.toIndexedSeq)
    }
    ctx.sample("op_ms", (System.nanoTime() - t0) / 1e6)
    ctx.attempted += MetabaseCards.all.length
    ctx.count("items", MetabaseCards.all.length)
    Util.digest(digests)
  }

  def setup(rep: Int): Unit = {
    lake = ctx.dir(s"lake_$rep")
    tracer.span("ufc.reload")(reload())
  }

  /** One refresh over the loaded lake. */
  def warmup(): Unit = refreshDigests += refresh()

  def cycle(i: Int): Unit = refreshDigests += tracer.span("ufc.refresh")(refresh())

  def verify(): Unit = {
    val first = if (ctx.corrupt) "corrupted" + refreshDigests.head else refreshDigests.head
    ctx.check("refresh_stable", refreshDigests.forall(_ == first))
    ctx.notes("refresh_digest") = refreshDigests.head
    if (ctx.params.path("check_goldens").asBoolean(true))
      ctx.check("fixture_goldens", goldensMatch())
  }

  /** The 14 cards over the checked-in fixtures equal the DuckDB goldens
    * (the reference card SQL), with the reference's current_date pinned to
    * the golden generation date. */
  private def goldensMatch(): Boolean = {
    val fx = s"${ctx.fixtures}/fixtures"
    val v = Warehouse.registerViews(spark,
      Sources.readCsv(spark, s"$fx/dim_ufc_event_details.csv"),
      Sources.readCsv(spark, s"$fx/fact_ufc_fight_results.csv"),
      Sources.readCsv(spark, s"$fx/title_status_changes_outside_octagon.csv"))
    Analytics.totalChampDays(v("mv_title_reigns"), to_date(lit("2026-01-01")))
      .createOrReplaceTempView("mv_total_champ_days")
    def norm(df: DataFrame): Seq[String] = df.collect().toSeq.map(Util.render).sorted
    val ok = MetabaseCards.all.zipWithIndex.map { case ((title, sql), i) =>
      val actual = spark.sql(sql)
      val slug = title.toLowerCase.replaceAll("[^a-z0-9]+", "_").replaceAll("^_+|_+$", "")
      val expected = norm(spark.read.option("header", "true").option("nullValue", "\\N")
        .schema(actual.schema).csv(f"${ctx.fixtures}/goldens/card_$i%02d_$slug.csv"))
      val want = if (ctx.corrupt) expected :+ "corrupted" else expected
      val same = norm(actual) == want
      if (!same) System.err.println(s"perfbench: card $i ($title) differs from its golden")
      same
    }
    ok.forall(identity)
  }
}

object UfcDashboard {
  private val OrderBy = "(?s).*ORDER BY\\s+(.*?)(?:\\s+LIMIT\\s+(\\d+))?\\s*$".r

  /** Digest of what a card's SQL determines. A card that cuts its ORDER BY
    * at a LIMIT leaves open which of the rows tied on the sort key at the
    * cut it returns (Spark picks by shuffle arrival order, like any
    * engine), so the rows tied with the last row count by their sort key
    * only; every other row counts in full. */
  def cardDigest(sql: String, columns: IndexedSeq[String],
      rows: IndexedSeq[org.apache.spark.sql.Row]): String = {
    val rendered = rows.map(Util.render)
    sql match {
      case OrderBy(order, limit) if limit != null && rows.length == limit.toInt =>
        val keyIdx = order.split(",").map(_.trim.split("\\s+")(0)).map(columns.indexOf(_))
        require(keyIdx.forall(_ >= 0), s"ORDER BY key not among the card's columns: $order")
        def key(r: org.apache.spark.sql.Row) = keyIdx.map(i => Util.renderValue(r.get(i))).mkString("|")
        val cut = key(rows.last)
        val (tied, rest) = rows.indices.partition(i => key(rows(i)) == cut)
        Util.digest(rest.map(rendered) ++ tied.map(_ => "tied|" + cut))
      case _ => Util.digest(rendered)
    }
  }
}
