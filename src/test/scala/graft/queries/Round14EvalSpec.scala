package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec, Tables}

/** Oracle-independent brute forces for the round-14 additions: the
  * full-outer stream-stream interval join (q225), line-level C4-style
  * dedup (q226), and Unicode NFC + casefold normalization (q227) — plain
  * Scala over collected rows so the DuckDB gate and these specs fail
  * independently. (q228's TTL directions live in TtlStateSpec, which
  * drives the two-batch harness with spec-chosen TTLs.) Plus the planted
  * corpora the fixtures cannot provide: a boilerplate-flooded corpus
  * firing q226's drop on every doc, and composed/decomposed spellings
  * proving the graft_nfc expression itself.
  */
class Round14EvalSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf0001)

  private def dumpDocs(rows: Seq[(Long, String)]): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-r14-")
    graft.TempDirs.cleanupOnExit(tmp)
    val dir = tmp.toString
    rows.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q225 equals the batch full outer with per-side finalized-horizon nulls") {
    val ev = Tables.events(spark, sf0001)
      .selectExpr("event_id", "user_id", "event_type", "unix_micros(ts) AS us")
      .as[(Long, Long, String, Long)].collect()
    val purchases = ev.filter(_._3 == "purchase")
    val errors = ev.filter(_._3 == "error")
    val horizon = 21600000000L
    val wm = math.min(purchases.map(_._4).max, errors.map(_._4).max) -
      3600000000L
    val errByUser = errors.groupBy(_._2)
    val purByUser = purchases.groupBy(_._2)
    val pairs = purchases.flatMap { p =>
      errByUser.getOrElse(p._2, Array.empty).collect {
        case e if e._4 >= p._4 && e._4 <= p._4 + horizon =>
          (p._2, Option(p._1), Option(e._1), Option(e._4 - p._4))
      }
    }
    // purchase nulls: window end passed by the closing watermark (q222)
    val pNulls = purchases.collect {
      case p if p._4 + horizon < wm &&
        !errByUser.getOrElse(p._2, Array.empty)
          .exists(e => e._4 >= p._4 && e._4 <= p._4 + horizon) =>
        (p._2, Option(p._1), Option.empty[Long], Option.empty[Long])
    }
    // error nulls: e_ts itself passed (any matching purchase has
    // p_ts <= e_ts, so none can arrive after)
    val eNulls = errors.collect {
      case e if e._4 < wm &&
        !purByUser.getOrElse(e._2, Array.empty)
          .exists(p => e._4 >= p._4 && e._4 <= p._4 + horizon) =>
        (e._2, Option.empty[Long], Option(e._1), Option.empty[Long])
    }
    val want = (pairs ++ pNulls ++ eNulls).toSet
    val got = run("q225_stream_stream_full_join")
      .as[(Long, Option[Long], Option[Long], Option[Long])].collect()
    assert(got.toSet === want)
    assert(got.length === want.size, "duplicate rows in the full outer")
    // BOTH null branches non-vacuous on the fixture
    assert(pNulls.nonEmpty, "purchase-null branch vacuous")
    assert(eNulls.nonEmpty, "error-null branch vacuous")
    // and both sides hold back rows inside their open horizon
    val bufferedErrors = errors.count { e =>
      e._4 >= wm &&
        !purByUser.getOrElse(e._2, Array.empty)
          .exists(p => e._4 >= p._4 && e._4 <= p._4 + horizon)
    }
    assert(bufferedErrors > 0, "no error exercises the still-open horizon")
  }

  test("q225 arms: both (user, bucket)-equi-keyed LEFT OUTER joins — no state-shape change") {
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import graft.streaming.StreamStreamJoin
    def p = Seq((1L, 10L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("user_id", "purchase_id", "p_ts")
    def e = Seq((1L, 20L, java.sql.Timestamp.valueOf("2026-01-01 01:00:00")))
      .toDF("e_user_id", "error_id", "e_ts")
    Seq(StreamStreamJoin.pairStreams(p, e, "left_outer"),
        StreamStreamJoin.errorNullArm(p, e)).foreach { df =>
      val joins = df.queryExecution.analyzed.collect { case j: Join => j }
      assert(joins.length === 1, "each arm is exactly one join")
      assert(joins.head.joinType === LeftOuter)
      val c = joins.head.condition.get.toString
      assert(c.contains("bkt"), s"bucket equi-key missing from: $c")
      assert(c.contains("user_id"), s"user equi-key missing from: $c")
    }
  }

  test("q226 equals a plain-Scala chunk-count-drop-reassemble fold") {
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    val k = 4
    def chunks(t: String): Seq[String] =
      t.split(" ").grouped(k).map(_.mkString(" ")).toSeq
    val docCount = docs.flatMap { case (id, t) => chunks(t).distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val want = docs.map { case (id, t) =>
      val ch = chunks(t)
      val kept = ch.filter(c => docCount(c) < 3)
      (id, ch.length.toLong, (ch.length - kept.length).toLong,
        kept.mkString(" "))
    }.toSet
    val got = run("q226_line_dedup")
      .as[(Long, Long, Long, String)].collect()
    assert(got.toSet === want)
    // both branches live on the fixture
    assert(got.exists(_._3 > 0), "drop branch vacuous on the fixture")
    assert(got.exists(_._3 == 0), "keep-everything branch vacuous")
    // byte-exact round-trip: untouched docs reassemble identically
    val texts = docs.toMap
    got.filter(_._3 == 0).foreach { case (id, _, _, clean) =>
      assert(clean === texts(id), s"doc $id not byte-identical")
    }
  }

  test("q226 drops corpus boilerplate from EVERY doc on a planted corpus") {
    // 4 docs sharing one exact 4-token boilerplate chunk (>= 3 docs →
    // dropped everywhere), each with a distinct payload that survives
    val boiler = "terms of service apply"
    val dir = dumpDocs((0L to 3L).map(i =>
      i -> s"$boiler payload $i stays here"))
    val got = SparkEntry.queries("q226_line_dedup")(spark, dir)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    got.foreach { case (id, nChunks, nDropped, clean) =>
      assert(nChunks === 2L && nDropped === 1L)
      assert(clean === s"payload $id stays here")
    }
  }

  test("q227: three planted spellings collapse to one normalized form, bytes exact") {
    val rows = run("q227_unicode_normalize")
      .as[(Long, Long, Long, Long, String)].collect()
    val texts = Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(rows.length === texts.size)
    rows.foreach { case (id, raw, norm, collapsed, normText) =>
      assert(raw === 3L, s"doc $id: planted spellings not distinct raw")
      assert(norm === 1L, s"doc $id: normalization did not collapse")
      assert(collapsed === 2L)
      assert(normText === "caf\u00e9 menu: " + texts(id),
        s"doc $id: normalized bytes off")
    }
  }

  test("graft_nfc: identity on ASCII/NFC input, composes decomposed marks, SQL-registered") {
    import graft.expressions.NfcNormalize
    val df = Seq(
      ("ascii stays", "ascii stays"),
      ("caf\u00e9", "caf\u00e9"),          // already NFC
      ("cafe\u0301", "caf\u00e9"),         // e + combining acute → é
      ("A\u030aB", "\u00c5B")              // A + ring → Å
    ).toDF("in", "want")
    val bad = df.select(NfcNormalize(col("in")).as("got"), col("want"))
      .filter(col("got") =!= col("want")).count()
    assert(bad === 0L)
    // NULL passes through; SQL registration resolves
    graft.extensions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_nfc(CAST(NULL AS STRING)) AS a, graft_nfc('cafe\u0301') AS b")
      .collect().head
    assert(r.isNullAt(0) && r.getString(1) === "caf\u00e9")
  }
}
