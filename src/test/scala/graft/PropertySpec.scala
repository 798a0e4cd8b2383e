package graft

import java.sql.Date

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Aggregates, Dedup, Relational, Temporal}
import graft.queries.RefPipeline

/** Property-based invariants (SURVEY.md §5.2.3): the algebraic facts
  * each operator must preserve regardless of data, checked over seeded
  * random inputs (deterministic — no scalatestplus bridge in the
  * offline cache, so generation is hand-rolled with fixed seeds).
  * Inputs are small (each trial materializes Spark jobs) but
  * adversarial: ties, single-day intervals, duplicate keys. */
class PropertySpec extends AnyFunSuite with SparkTestBase {

  private val Trials = 8
  private def toDate(d: Int): Date =
    Date.valueOf(java.time.LocalDate.of(2015, 1, 1).plusDays(d))

  private def trials(test: Random => Unit): Unit =
    (1 to Trials).foreach(seed => test(new Random(seed)))

  test("explodeDays emits exactly datediff+1 rows per interval") {
    import spark.implicits._
    trials { rnd =>
      val spans = List.fill(1 + rnd.nextInt(30))((rnd.nextInt(3650), rnd.nextInt(41)))
      val df = spans.zipWithIndex
        .map { case ((start, len), i) => (i.toLong, toDate(start), toDate(start + len)) }
        .toDF("id", "d0", "d1")
      val exploded = Temporal.explodeDays(df, "day", $"d0", $"d1")
      val expected = spans.map { case (_, len) => len + 1L }.sum
      assert(exploded.count() == expected)
    }
  }

  test("explode + group-sum conserves value x duration (the Q4 invariant)") {
    import spark.implicits._
    trials { rnd =>
      val rows = List.fill(1 + rnd.nextInt(25))(
        (rnd.nextInt(3650), rnd.nextInt(31), 1 + rnd.nextInt(1000)))
      val df = rows.zipWithIndex
        .map { case ((start, len, v), i) => (i.toLong, toDate(start), toDate(start + len), v.toDouble) }
        .toDF("id", "d0", "d1", "value")
      val perDay = Temporal.explodeDays(df, "day", $"d0", $"d1")
        .groupBy($"day").agg(Aggregates.sumExact($"value").as("s"))
      val total = perDay.agg(Aggregates.sumExact($"s")).collect()(0).getDouble(0)
      val expected = rows.map { case (_, len, v) => (len + 1L) * v.toDouble }.sum
      assert(math.abs(total - expected) < 1e-6)
    }
  }

  test("sumPerDay's interval sweep equals explode + group-sum, as a multiset") {
    import spark.implicits._
    val sentinel = Date.valueOf(graft.queries.RefPipeline.DebutSentinel)
    trials { rnd =>
      def pick[T](xs: T*): T = xs(rnd.nextInt(xs.length))
      val rows = List.fill(1 + rnd.nextInt(25)) {
        val s = rnd.nextInt(60)
        val start = rnd.nextInt(12) match {
          case 0 => None
          case 1 => Some(sentinel)
          case _ => Some(toDate(s))
        }
        val end = rnd.nextInt(8) match {
          case 0 => None
          case 1 => Some(toDate(s))                      // single day
          case 2 => Some(toDate(s - 1 - rnd.nextInt(10))) // inverted
          case _ => Some(toDate(s + rnd.nextInt(20)))
        }
        // 0.001 and -0.004 round to 0.00 and must still own their days
        val value = pick(None, Some(0.001), Some(-0.004), Some(1 + rnd.nextInt(5000) / 100.0))
        (pick(None, Some("a"), Some("b")), pick(None, Some(1)), start, end, value)
      }
      val df = (rows ++ rows.filter(_ => rnd.nextInt(4) == 0)) // duplicate intervals
        .toDF("k", "n", "d0", "d1", "v")
      val keys = Seq("k", "n")
      val exploded = Temporal.explodeDays(df, "day", $"d0", $"d1")
        .groupBy(col("day") +: keys.map(col): _*)
        .agg(Aggregates.sumExact($"v").as("s"))
      val swept = Temporal.sumPerDay(df, "day", $"d0", $"d1", keys, $"v", "s")
      def shape(d: org.apache.spark.sql.DataFrame) = d.schema.map(f => f.name -> f.dataType)
      assert(shape(swept) == shape(exploded))
      def rowsOf(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).sorted.toSeq
      assert(rowsOf(swept) == rowsOf(exploded))
    }
  }

  test("Q1 and Q2 from the severity timeline equal the window argmax over the decrees valid at d") {
    import spark.implicits._
    val (debutSentinel, finSentinel) = (Date.valueOf(RefPipeline.DebutSentinel), Date.valueOf(RefPipeline.FinSentinel))
    val schema = StructType(Seq(StructField("id_zone", LongType), StructField("code_departement", StringType),
      StructField("debut_validite_arrete", DateType), StructField("fin_validite_arrete", DateType),
      StructField("numero_niveau", IntegerType), StructField("nom_niveau", StringType)))
    val departements = Seq("07", "2A", "971", "01").map(c => (c, s"Département $c", "{}"))
      .toDF("code", "nom", "geometry")
    // zones 1 and 2 share a department, so their severities tie across
    // zones; zone 5 has no department
    val deptOf = Map(1L -> "07", 2L -> "07", 3L -> "2A", 4L -> "2A", 5L -> null, 6L -> "971")
    // the reference: the decrees valid at d, one window argmax per department
    def windowTop(prepped: DataFrame, d: Column) = Temporal.argmaxPerGroup(
      Temporal.pointInInterval(prepped, d, "debut_validite_arrete", "fin_validite_arrete"),
      Seq(col("code_departement")),
      Seq(col("numero_niveau").desc, col("id_zone").asc, col("nom_niveau").asc))
    def refQ1(prepped: DataFrame, d: Column) =
      Aggregates.countByKey(windowTop(prepped, d), Seq(col("numero_niveau"), col("nom_niveau")), "nb_departements")
        .orderBy(col("numero_niveau").desc)
    def refQ2(prepped: DataFrame, d: Column) = {
      val top = windowTop(prepped, d).select(col("code_departement"), col("numero_niveau"), col("nom_niveau"))
      Relational.fillNullZero(departements.join(top, departements("code") === top("code_departement"), "left"),
        Seq("numero_niveau")).drop("code_departement")
    }
    (1 to 4).foreach { seed =>
      val rnd = new Random(seed)
      def pick[T](xs: T*): T = xs(rnd.nextInt(xs.length))
      val decrees = Vector.fill(30) {
        val zone = 1L + rnd.nextInt(6)
        val s = rnd.nextInt(60)
        val debut = rnd.nextInt(14) match {
          case 0 => null
          case 1 => debutSentinel
          case _ => toDate(s)
        }
        val fin = rnd.nextInt(10) match {
          case 0 => null
          case 1 => finSentinel
          case 2 => toDate(s)                      // single day
          case 3 => toDate(s - 1 - rnd.nextInt(5)) // inverted
          case _ => toDate(s + rnd.nextInt(15))
        }
        Row(zone, deptOf(zone), debut, fin, pick[Any](null, 1, 2, 3), pick("vigilance", "alerte", "crise", null))
      }
      // one zone and level under two labels: over the same days, and
      // back to back in a department of their own
      val twin = decrees.find(r => r.get(2) != null && r.get(3) != null).get
      val s = rnd.nextInt(60)
      val relabelled = Row(7L, "01", toDate(s + 5), toDate(s + 9), 2, "crise")
      val rows = decrees ++ Seq(Row(twin(0), twin(1), twin(2), twin(3), twin(4), "alerte renforcée"),
        Row(7L, "01", toDate(s), toDate(s + 4), 2, "alerte"), relabelled)
      val prepped = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      assert(prepped.rdd.getNumPartitions == 3)
      val valid = rows.filter(r => r.get(2) != null && r.get(3) != null)
      def someValid = valid(rnd.nextInt(valid.length))
      val days = Seq(relabelled.getDate(2), someValid.getDate(2), someValid.getDate(2),
        Date.valueOf(someValid.getDate(3).toLocalDate.plusDays(1)),
        Date.valueOf(someValid.getDate(3).toLocalDate.plusDays(1)),
        debutSentinel, finSentinel, toDate(rnd.nextInt(75)))
      (days.map(lit) :+ lit(null).cast("date")).foreach { d =>
        val (q1, want1) = (RefPipeline.q1NbDepPerAlert(prepped, d).collect().toSeq, refQ1(prepped, d).collect().toSeq)
        assert(q1.map(_.toString).sorted == want1.map(_.toString).sorted, s"Q1 at $d, seed $seed")
        assert(q1.map(r => Option(r.get(0))) == want1.map(r => Option(r.get(0))), s"Q1's order at $d, seed $seed")
        def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
        assert(sorted(RefPipeline.q2MaxAlertPerDept(prepped, d, departements)) == sorted(refQ2(prepped, d)),
          s"Q2 at $d, seed $seed")
      }
    }
  }

  test("argmaxPerGroup returns one row per group, and it is a group maximum") {
    import spark.implicits._
    trials { rnd =>
      val rows = List.fill(1 + rnd.nextInt(40))((rnd.nextInt(6), rnd.nextInt(201) - 100))
      val df = rows.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }.toDF("g", "v", "id")
      val top = Temporal.argmaxPerGroup(df, Seq($"g"), Seq($"v".desc, $"id".asc))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      val maxima = rows.groupBy(_._1).map { case (g, rs) => g -> rs.map(_._2).max }
      assert(top == maxima)
    }
  }

  test("argmaxPerGroup tiebreak is deterministic: smallest id among maxima wins") {
    import spark.implicits._
    trials { rnd =>
      // value range 0..3 over up to 40 rows forces plenty of ties
      val rows = List.fill(1 + rnd.nextInt(40))((rnd.nextInt(4), rnd.nextInt(4)))
      val df = rows.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }.toDF("g", "v", "id")
      val winners = Temporal.argmaxPerGroup(df, Seq($"g"), Seq($"v".desc, $"id".asc))
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      val expected = rows.zipWithIndex.groupBy(_._1._1).map { case (g, rs) =>
        val maxV = rs.map(_._1._2).max
        g -> rs.filter(_._1._2 == maxV).map(_._2.toLong).min
      }
      assert(winners == expected)
    }
  }

  test("topK never exceeds k and equals the sorted prefix") {
    import spark.implicits._
    trials { rnd =>
      val vs = List.fill(rnd.nextInt(60))(rnd.nextInt(2001) - 1000)
      val k = 1 + rnd.nextInt(10)
      val df = vs.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toDF("v", "id")
      val got = Relational.topK(df, Seq($"v".desc, $"id".asc), k)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      val expected = vs.zipWithIndex.map { case (v, i) => (v, i.toLong) }
        .sortBy { case (v, i) => (-v, i) }.take(k)
      assert(got == expected)
    }
  }

  test("exact dedup is idempotent and keeper+removed partitions the corpus") {
    import spark.implicits._
    trials { rnd =>
      val keys = List.fill(1 + rnd.nextInt(40))(rnd.nextInt(9))
      val df = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "id")
      val keepers = Dedup.keepersByKey(df, Seq($"k"), Seq($"id".asc))
      val removed = Dedup.removedByKey(df, Seq($"k"), "id", Seq($"id".asc))
      assert(keepers.count() + removed.count() == keys.length)
      assert(keepers.select($"k").distinct().count() == keepers.count())
      val again = Dedup.keepersByKey(keepers, Seq($"k"), Seq($"id".asc))
      assert(again.count() == keepers.count())
    }
  }

  test("point-in-interval filter keeps exactly the covering intervals") {
    import spark.implicits._
    trials { rnd =>
      val spans = List.fill(1 + rnd.nextInt(40))((rnd.nextInt(3650), rnd.nextInt(61)))
      val probe = rnd.nextInt(3650)
      val df = spans.zipWithIndex
        .map { case ((s, len), i) => (i.toLong, toDate(s), toDate(s + len)) }
        .toDF("id", "d0", "d1")
      val got = Temporal.pointInInterval(df, lit(toDate(probe)), "d0", "d1").count()
      val expected = spans.count { case (s, len) => s <= probe && probe <= s + len }
      assert(got == expected)
    }
  }

  test("rangeJoinBroadcastProbes equals a plain-Scala enumeration of pairs") {
    import spark.implicits._
    // duplicate rows multiply; single-day intervals match their day;
    // inverted (end < start) and null-bounded intervals match nothing
    trials { rnd =>
      val probes = List.fill(1 + rnd.nextInt(20))(rnd.nextInt(30))
        .zipWithIndex.map { case (d, i) => (i.toLong, d) }
      val distinct = List.fill(1 + rnd.nextInt(30)) {
        val s = rnd.nextInt(30)
        val e = rnd.nextInt(4) match {
          case 0 => s
          case 1 => s - 1 - rnd.nextInt(3)
          case _ => s + rnd.nextInt(8)
        }
        (Some(s).filter(_ => rnd.nextInt(8) != 0), Some(e).filter(_ => rnd.nextInt(8) != 0))
      }.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
      val intervals = distinct ++ distinct.filter(_ => rnd.nextInt(4) == 0)
      val expected = (for {
        (iid, Some(s), Some(e)) <- intervals
        (pid, d) <- probes if s <= d && d <= e
      } yield (iid, pid)).sorted
      val got = Temporal.rangeJoinBroadcastProbes(
        probes.map { case (p, d) => (p, toDate(d)) }.toDF("pid", "d"),
        intervals.map { case (i, s, e) => (i, s.map(toDate), e.map(toDate)) }
          .toDF("iid", "d0", "d1"),
        "d", "d0", "d1")
        .select($"iid", $"pid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      assert(got == expected)
    }
  }

  test("rangeCountByKey equals count-over-materialized-pairs") {
    import spark.implicits._
    // randomized multisets: duplicate probe dates, duplicate and
    // inverted intervals, multiple groups — every multiplicity case
    // the aggregate-pushdown factoring must preserve exactly
    trials { rnd =>
      val probes = List.fill(1 + rnd.nextInt(60))(
        (rnd.nextInt(3), rnd.nextInt(30)))
        .zipWithIndex
        .map { case ((g, d), i) => (i.toLong, toDate(d)) }
        .toDF("pid", "d")
      val intervals = List.fill(1 + rnd.nextInt(40)) {
        val s = rnd.nextInt(30)
        // ~1 in 8 inverted (end < start): must contribute zero in both
        val e = s + rnd.nextInt(8) - 1
        (s"g${rnd.nextInt(3)}", toDate(s), toDate(e))
      }.toDF("grp", "d0", "d1")
      def counted(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // the materializing reference: one row per (probe, interval day)
      // pair from a day equi-join, counted per group
      val days = Temporal.explodeDays(intervals, "__day", $"d0", $"d1")
      val expected = counted(Aggregates.countByKey(
        probes.join(days, $"d" === $"__day"), Seq($"grp"), "n"))
      val fused = counted(Temporal.rangeCountByKey(
        probes, intervals, "d", "d0", "d1", Seq($"grp"), "n"))
      assert(fused == expected)
    }
  }

  test("asofJoin matches the latest right time <= probe time, per key") {
    import spark.implicits._
    trials { rnd =>
      val probes = List.fill(1 + rnd.nextInt(20))((rnd.nextInt(4), rnd.nextInt(100)))
      val rights = List.fill(1 + rnd.nextInt(20))((rnd.nextInt(4), rnd.nextInt(100)))
      val l = probes.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t.toLong) }
        .toDF("probe_id", "k", "t")
      val r = rights.map { case (k, t) => (k, t.toLong) }.toDF("k", "rt")
      val got = graft.ops.Temporal.asofJoin(l, r, Seq("k"), "t", "rt", Seq("rt"))
        .select($"probe_id", $"asof_rt")
        .collect().map(row => row.getLong(0) ->
          (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
      val expected = probes.zipWithIndex.map { case ((k, t), i) =>
        val cands = rights.filter(x => x._1 == k && x._2 <= t).map(_._2.toLong)
        i.toLong -> (if (cands.isEmpty) None else Some(cands.max))
      }.toMap
      assert(got == expected)
    }
  }

  test("asofJoin: a latest right row with a NULL value yields null, not a stale value") {
    import spark.implicits._
    val l = Seq((1L, 1, 10L)).toDF("probe_id", "k", "t")
    val r = Seq((1, 1L, Some(99L)), (1, 5L, None))
      .toDF("k", "rt", "payload")
    val got = graft.ops.Temporal.asofJoin(l, r, Seq("k"), "t", "rt", Seq("payload"))
      .select($"probe_id", $"asof_payload").collect()(0)
    // latest right row (t=5) has payload null — must NOT fall back to 99
    assert(got.isNullAt(1))
  }

  test("asofJoin: exact-time right rows are visible (<= semantics)") {
    import spark.implicits._
    val l = Seq((1L, 1, 50L), (2L, 1, 10L)).toDF("probe_id", "k", "t")
    val r = Seq((1, 50L), (1, 49L)).toDF("k", "rt")
    val got = graft.ops.Temporal.asofJoin(l, r, Seq("k"), "t", "rt", Seq("rt"))
      .select($"probe_id", $"asof_rt").collect()
      .map(row => row.getLong(0) -> (if (row.isNullAt(1)) None else Some(row.getLong(1)))).toMap
    assert(got == Map(1L -> Some(50L), 2L -> None))
  }

  test("asofJoin: right-side ties at identical (key, time) resolve to the greatest struct, under any input order") {
    import spark.implicits._
    val l = Seq((1L, 1, 10L)).toDF("probe_id", "k", "t")
    // three right rows tied at (k=1, rt=10): struct ordering is
    // field-wise, so ("c", 0.5) beats ("b", 2.0) beats ("a", 1.0) —
    // the winner must be "c" for EVERY input order and partitioning,
    // where the old union-order contract let any of the three surface
    val tied = Seq((1, 10L, "a", 1.0), (1, 10L, "c", 0.5), (1, 10L, "b", 2.0))
    for (perm <- tied.permutations) {
      val r = perm.toDF("k", "rt", "payload", "score").repartition(3)
      val got = graft.ops.Temporal.asofJoin(l, r, Seq("k"), "t", "rt",
        Seq("payload", "score"))
        .select($"asof_payload", $"asof_score").collect()(0)
      assert((got.getString(0), got.getDouble(1)) == ("c", 0.5),
        s"ties must resolve to the struct-greatest right row; input order $perm")
    }
    // unorderable payloads (maps, calendar intervals) must still JOIN —
    // the tie key steps aside instead of crashing the window's ORDER BY
    val lm = Seq((1L, 1, 10L)).toDF("probe_id", "k", "t")
    val rMap = Seq((1, 5L)).toDF("k", "rt")
      .withColumn("m", map(lit("a"), lit(1)))
    val gotMap = graft.ops.Temporal.asofJoin(lm, rMap, Seq("k"), "t", "rt", Seq("m"))
      .select($"asof_m").collect()(0).getMap[String, Int](0)
    assert(gotMap == Map("a" -> 1))
    val rIv = Seq((1, 5L)).toDF("k", "rt")
      .withColumn("iv", expr("INTERVAL '1' DAY"))
    val gotIv = graft.ops.Temporal.asofJoin(lm, rIv, Seq("k"), "t", "rt", Seq("iv"))
      .select($"asof_iv").collect()(0)
    assert(!gotIv.isNullAt(0), "interval payload must fill through the asof join")
  }

  test("rollup sentinel distinguishes genuine NULL keys from subtotal rows") {
    import spark.implicits._
    val df = Seq((Some("a"), 1.0), (None, 2.0), (Some("a"), 3.0))
      .toDF("k", "v")
    val rolled = Aggregates.rollupSum(df, Seq("k"), $"v", "s")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // NULL key stays null (printed as null -> Map key null), subtotal is ALL
    assert(rolled("a") == 4.0)
    assert(rolled("ALL") == 6.0)
    assert(rolled(null) == 2.0, s"genuine NULL group must not merge into ALL: $rolled")
  }

  test("saltedAggregate equals the plain one-stage groupBy for sum and count") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(sf("lineitem"))
    val salted = graft.ops.Skew.saltedAggregate(df,
      keys = Seq($"l_returnflag"), fineGrain = Seq($"l_orderkey"), saltBuckets = 7,
      partials = Seq(sum($"l_quantity".cast("decimal(28,2)")).as("__s"),
        count(lit(1)).as("__n")),
      merges = Seq(sum($"__s").cast("double").as("s"), sum($"__n").as("n")))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val plain = df.groupBy($"l_returnflag")
      .agg(sum($"l_quantity".cast("decimal(28,2)")).cast("double").as("s"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted == plain)
  }

  test("nfcClean: composes decomposed forms, strips controls, keeps tab/newline, null-safe") {
    import spark.implicits._
    import graft.ops.Text
    // all dirt written as \uXXXX escapes so the source stays ASCII:
    // u0301 = combining acute (e + u0301 must compose to U+00E9);
    // u0007 BEL (C0), u0085 NEL (C1), u007f DEL - all stripped
    val rows = Seq(
      (1L, "cafe\u0301 du parc"),
      (2L, "keep\tthese\nlines"),
      (3L, "bell\u0007 nel\u0085 del\u007f end"),
      (4L, "plain ascii"),
      (5L, null.asInstanceOf[String]))
      .toDF("id", "t")
    val got = rows.select($"id", Text.nfcClean($"t").as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(got(1L) == "caf\u00e9 du parc", got(1L))
    assert(got(2L) == "keep\tthese\nlines")
    assert(got(3L) == "bell nel del end")
    assert(got(4L) == "plain ascii")
    assert(got(5L) == null)
    // idempotent: cleaning a cleaned string is identity
    val twice = rows.filter($"t".isNotNull)
      .select(Text.nfcClean(Text.nfcClean($"t")).as("a"), Text.nfcClean($"t").as("b"))
      .filter($"a" =!= $"b").count()
    assert(twice == 0)
    // SQL-registered form agrees with the Column API
    GraftExtensions.register(spark)
    rows.filter($"t".isNotNull).createOrReplaceTempView("nfc_in")
    val viaSql = spark.sql("SELECT id, graft_nfc_clean(t) AS c FROM nfc_in")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaSql == got.filter(_._2 != null))
  }

  test("saltedJoin equals the plain equi-join") {
    import spark.implicits._
    val c = spark.read.parquet(sf("customer"))
    val n = spark.read.parquet(sf("nation"))
    val salted = graft.ops.Skew.saltedJoin(c, n, $"c_nationkey", $"n_nationkey",
      Seq($"c_custkey"), saltBuckets = 7)
      .select($"c_custkey", $"n_name")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val plain = c.join(n, $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(salted == plain)
  }

  test("groupingSets equals the union of its per-set groupBy aggregates") {
    import spark.implicits._
    val df = Seq(("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 4.0))
      .toDF("k1", "k2", "v")
    val gs = Aggregates.groupingSetsSum(df, Seq(Seq("k1"), Seq("k2")),
      Seq("k1", "k2"), $"v", "s")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // (k1) marginal rows carry the ALL sentinel in k2, and vice versa
    assert(gs == Map(
      ("a", "ALL") -> 3.0, ("b", "ALL") -> 4.0,
      ("ALL", "x") -> 5.0, ("ALL", "y") -> 2.0))
  }

  test("set ops: union counts add; except+intersect partition the left side") {
    import spark.implicits._
    trials { rnd =>
      val a = List.fill(1 + rnd.nextInt(30))(rnd.nextInt(15))
      val b = List.fill(1 + rnd.nextInt(30))(rnd.nextInt(15))
      val da = a.toDF("v")
      val db = b.toDF("v")
      assert(Relational.unionAll(da, db).count() == a.length + b.length)
      val exc = Relational.exceptDistinct(da, db).collect().map(_.getInt(0)).toSet
      val inter = Relational.intersectDistinct(da, db).collect().map(_.getInt(0)).toSet
      assert(exc == (a.toSet -- b.toSet))
      assert(inter == (a.toSet & b.toSet))
      assert((exc & inter).isEmpty)
      assert((exc | inter) == a.toSet)
      // multiset variants: EXCEPT ALL keeps surplus duplicate counts
      val excAll = Relational.exceptAll(da, db).collect().map(_.getInt(0)).toList.sorted
      val expectedAll = a.groupBy(identity).flatMap { case (v, vs) =>
        List.fill(math.max(0, vs.length - b.count(_ == v)))(v)
      }.toList.sorted
      assert(excAll == expectedAll)
    }
  }

  test("histogram conserves mass: bucket counts sum to the non-null row count") {
    import spark.implicits._
    trials { rnd =>
      val vals = List.fill(1 + rnd.nextInt(200))(
        if (rnd.nextInt(10) == 0) null else java.lang.Double.valueOf(rnd.nextDouble() * 120 - 10))
      val df = vals.toDF("v")
      val hist = Aggregates.histogram(df, $"v", lo = 0.0, hi = 100.0, nBuckets = 10)
        .collect().map(r => r.getInt(0) -> r.getLong(1))
      assert(hist.map(_._2).sum == vals.count(_ != null))
      assert(hist.forall { case (b, _) => b >= -1 && b <= 10 })
    }
  }

  test("tableChecksum is mergeable: XOR of disjoint halves equals the whole") {
    import spark.implicits._
    trials { rnd =>
      val rows = List.fill(20 + rnd.nextInt(100))(
        (rnd.nextLong(), rnd.nextInt(5).toString))
      val df = rows.toDF("id", "tag")
      def sig(d: org.apache.spark.sql.DataFrame) =
        Aggregates.tableChecksum(d, Seq("id", "tag"), 8)
          .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val (left, right) = rows.splitAt(rows.length / 2)
      val whole = sig(df)
      val l = sig(left.toDF("id", "tag"))
      val r = sig(right.toDF("id", "tag"))
      // per bucket: XOR of the halves' signatures == whole signature,
      // counts add — exactly the partial-aggregation contract that
      // lets per-partition checksums roll up without a rescan
      val merged = (l.keySet | r.keySet).map { b =>
        val (lx, ln) = l.getOrElse(b, (0L, 0L))
        val (rx, rn) = r.getOrElse(b, (0L, 0L))
        b -> (lx ^ rx, ln + rn)
      }.toMap
      assert(merged == whole)
    }
  }

  test("prefix-filtered exact jaccard equals driver-side brute force on random corpora") {
    import spark.implicits._
    trials { rnd =>
      // a 12-word vocabulary forces heavy shingle overlap, so every
      // threshold regime gets exercised (dense candidate sets included)
      val vocab = Vector.tabulate(12)(i => s"w$i")
      val docs = (0 until (8 + rnd.nextInt(12))).map { i =>
        (i.toLong,
          Seq.fill(4 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val sh = docs.select($"doc_id", Dedup.shingles($"text").as("__sh"))
        .filter(size($"__sh") > 0)
      val t = 0.2 + rnd.nextDouble() * 0.7
      val got = Dedup.jaccardPairsExactOnShingles(sh, "doc_id", "__sh", t)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val arr = sh.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      val expected = (for {
        (a, sa) <- arr
        (b, sb) <- arr if a < b
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        if j >= t
      } yield (a, b)).toSet
      assert(got == expected,
        s"prefix filter must be recall-complete and precise at threshold $t")
    }
  }

  test("one-way jaccard probe equals driver-side brute force on random corpora and orders") {
    import spark.implicits._
    trials { rnd =>
      val vocab = Vector.tabulate(12)(i => s"w$i")
      def mk(n: Int, idBase: Long) = (0 until n).map { i =>
        (idBase + i,
          Seq.fill(4 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val corpus = mk(6 + rnd.nextInt(10), 0L).toDF("doc_id", "text")
      val probes = mk(2 + rnd.nextInt(5), 1000L).toDF("doc_id", "text")
      def shOf(df: org.apache.spark.sql.DataFrame) =
        df.select($"doc_id", Dedup.shingles($"text").as("__sh"))
          .filter(size($"__sh") > 0)
      val t = 0.2 + rnd.nextDouble() * 0.7
      val got = Dedup.jaccardProbeOnShingles(shOf(corpus), shOf(probes), "doc_id", "__sh", t)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def setsOf(df: org.apache.spark.sql.DataFrame) =
        shOf(df).collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      val expected = (for {
        (p, sp) <- setsOf(probes)
        (c, sc) <- setsOf(corpus)
        j = sp.intersect(sc).size.toDouble / sp.union(sc).size
        if j >= t
      } yield (p, c)).toSet
      assert(got == expected,
        s"one-way prefix probe must be recall-complete and precise at threshold $t")
    }
  }

  test("Bands self and probe joins equal a plain-Scala enumeration of colliding pairs") {
    import spark.implicits._
    // few bands and keys, so pairs collide in several bands; every
    // relation repeats rows; ids 0-7 all share key 99 in two bands
    def draw(rnd: Random, ids: Int, idBase: Long, n: Int): List[(Long, Int, Long)] = {
      val rows = List.fill(n)((idBase + rnd.nextInt(ids), rnd.nextInt(3), rnd.nextInt(4).toLong))
      rows ++ rows.take(3)
    }
    val crowd = for (i <- (0L until 8L).toList; b <- List(0, 1)) yield (i, b, 99L)
    def selfPairs(rows: List[(Long, Int, Long)]) = (for {
      (a, ba, ka) <- rows; (b, bb, kb) <- rows if ba == bb && ka == kb && a < b
    } yield (a, b)).distinct.sorted
    // payload columns ride through the probe join: the probe's is a
    // string, the corpus's a long
    def probeRows(probe: List[(Long, Int, Long)], corpus: List[(Long, Int, Long)]) = (for {
      (p, bp, kp) <- probe; (c, bc, kc) <- corpus if bp == bc && kp == kc
    } yield (p, s"p$p", c, c * 31)).distinct.sorted
    def probeDf(rows: List[(Long, Int, Long)]) = rows.toDF("probe_id", "__band", "__key")
      .withColumn("pp", concat(lit("p"), $"probe_id"))
    def corpusDf(rows: List[(Long, Int, Long)]) = rows.toDF("dup_id", "__band", "__key")
      .withColumn("cp", $"dup_id" * 31)
    def probed(probe: List[(Long, Int, Long)], corpus: List[(Long, Int, Long)]) =
      graft.ops.Bands.probeJoin(probeDf(probe), corpusDf(corpus))
        .select("probe_id", "pp", "dup_id", "cp").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toList.sorted
    trials { rnd =>
      val corpus = draw(rnd, 12, 0L, 1 + rnd.nextInt(30)) ++ crowd
      val probe = (100L, 0, 99L) :: draw(rnd, 6, 100L, rnd.nextInt(10))
      val self = graft.ops.Bands.selfJoin(corpus.toDF("id", "__band", "__key"), "id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList.sorted
      assert(self == selfPairs(corpus))
      assert(probed(probe, corpus) == probeRows(probe, corpus))
    }
    assert(probed(Nil, crowd).isEmpty)
  }

  test("PQ, residual IVF-PQ and OPQ quantizers equal a plain-Scala nearest search, first minimum winning") {
    import spark.implicits._
    import graft.ops.Vectors
    // squared distance in the kernel's order, and the nearest index by
    // minBy, which keeps the first of equal minima
    def dist(a: Int => Double, b: Int => Double, n: Int): Double =
      (0 until n).foldLeft(0.0) { (acc, j) => val t = a(j) - b(j); acc + t * t }
    def subDists(cb: Vectors.PqCodebooks, v: Array[Double], s: Int): IndexedSeq[Double] =
      (0 until cb.ksub).map(c => dist(j => v(s * cb.dsub + j),
        j => cb.flat((s * cb.ksub + c) * cb.dsub + j), cb.dsub))
    def code(cb: Vectors.PqCodebooks, v: Array[Double]): Seq[Byte] =
      (0 until cb.m).map(s => subDists(cb, v, s).zipWithIndex.minBy(_._1)._2.toByte)
    trials { rnd =>
      val (m, dsub, ksub) = (4, 2, 6)
      val d = m * dsub
      // each subspace plants one codeword twice, so every vector whose
      // nearest codeword is the planted one ties between two indices
      val flat = Array.fill(m * ksub * dsub)(rnd.nextGaussian() * 0.4)
      for (s <- 0 until m) {
        val a = rnd.nextInt(ksub - 1)
        val b = a + 1 + rnd.nextInt(ksub - 1 - a)
        System.arraycopy(flat, (s * ksub + a) * dsub, flat, (s * ksub + b) * dsub, dsub)
      }
      val cb = Vectors.PqCodebooks(m, ksub, dsub, flat)
      // repeated vectors make repeated coarse centroids likely; the zero
      // and null vectors must drop before any search
      val vecs = Seq.fill(30)(Seq.fill(d)(rnd.nextGaussian().toFloat))
      val corpus = ((vecs ++ vecs.take(6)).map(Option(_)) ++
        Seq(Some(Seq.fill(d)(0f)), None)).zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")

      val coded = Vectors.pqCodeColumns(corpus, "id", "vec", cb).collect()
        .map(r => (r.getAs[Array[Byte]]("__code").toSeq, r.getSeq[Double](2).toArray))
      assert(coded.length == 36)
      coded.foreach { case (c, v) => assert(c == code(cb, v)) }
      val ties = coded.count { case (_, v) =>
        (0 until m).exists { s => val ds = subDists(cb, v, s); ds.count(_ == ds.min) > 1 } }
      assert(ties > 0, "no vector met a planted tie")

      // ksub above the sample size cycles the fitted codebooks, so every
      // residual code is chosen among repeated codewords
      val idx = Vectors.ivfPqIndex(corpus, "id", "vec", nlist = 4, m = m, ksub = 64)
      val cs = idx.centroidArr
      idx.codes.select("__cell", "__code", "__cv").collect().foreach { r =>
        val p = r.getSeq[Double](2).toArray
        val cell = cs.indices.minBy(c => dist(p, cs(c), d))
        assert(r.getInt(0) == cell)
        assert(r.getAs[Array[Byte]](1).toSeq ==
          code(idx.cb, Array.tabulate(d)(j => p(j) - cs(cell)(j))))
      }

      val identity = Array.tabulate(d * d)(ix => if (ix / d == ix % d) 1.0 else 0.0)
      val expected = coded.map { case (_, v) =>
        (0 until m).map(s => subDists(cb, v, s).min).sum }.sum / coded.length
      val got = Vectors.opqDistortion(corpus, "vec", Vectors.OpqModel(d, identity, cb))
      assert(got.exists(g => math.abs(g - expected) <= 1e-12 * math.max(1.0, expected)),
        s"distortion $got, brute force $expected")
    }
  }

  test("portable dedup ops are layout-invariant: any repartitioning, same output") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(sf("documents"))
    def shOf(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", Dedup.shingles($"text").as("__sh"))
        .filter(size($"__sh") > 0)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.jaccardPairsExactOnShingles(shOf(df), "doc_id", "__sh", 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def mhOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashLshPortableOnShingles(shOf(df), "doc_id", "__sh")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def sigOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.simhashPortable(df, $"doc_id", $"text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = (pairsOf(docs), mhOf(docs), sigOf(docs))
    for (n <- Seq(1, 7)) {
      val re = docs.repartition(n, $"doc_id")
      assert(pairsOf(re) == base._1, s"exact jaccard must not depend on layout (n=$n)")
      assert(mhOf(re) == base._2, s"portable minhash must not depend on layout (n=$n)")
      assert(sigOf(re) == base._3, s"portable simhash must not depend on layout (n=$n)")
    }
  }

  test("portable simhash is a pure function of the token multiset") {
    import spark.implicits._
    trials { rnd =>
      val toks = Seq.fill(5 + rnd.nextInt(40))(s"t${rnd.nextInt(20)}")
      val docs = Seq(
        (1L, toks.mkString(" ")),
        (2L, rnd.shuffle(toks).mkString(" "))).toDF("doc_id", "text")
      val sig = Dedup.simhashPortable(docs, $"doc_id", $"text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sig(1L) == sig(2L),
        "token permutation must not change the signature")
    }
  }

  test("packSequences conserves tokens: per shard, last doc's end equals the shard's token sum") {
    import spark.implicits._
    trials { rnd =>
      val docs = List.tabulate(5 + rnd.nextInt(50))(i =>
        (i.toLong, 1 + rnd.nextInt(300)))
      val df = docs.toDF("id", "n_tok")
      val packed = graft.ops.Text.packSequences(df, $"id", $"n_tok",
        seqLen = 128, shards = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      val toks = docs.toMap
      packed.groupBy(_._2).foreach { case (_, inShard) =>
        val last = inShard.maxBy(_._1)
        val shardTotal = inShard.map(c => toks(c._1).toLong).sum
        assert(last._3 * 128 + last._4 + toks(last._1) == shardTotal,
          "the shard's token stream must account for every token exactly once")
      }
    }
  }

  test("PNG codec round-trip is byte-lossless on random rasters (sum + hash level)") {
    import graft.ops.Multimodal
    trials { rnd =>
      val w = 8 + rnd.nextInt(24)
      val h = 8 + rnd.nextInt(24)
      val bgr = Array.fill(w * h * 3)(rnd.nextInt(256).toByte)
      val decoded = Multimodal.imageIoDecode(Multimodal.imageIoEncode("png", w, h, bgr)).get
      assert(decoded.format == "png" && decoded.width == w && decoded.height == h)
      assert(decoded.sampleSum == bgr.map(_ & 0xFF).map(_.toLong).sum,
        "DEFLATE inflate must reproduce every sample byte")
      // and the perceptual hash agrees with the codec-free P6 route
      assert(Multimodal.aHash64(Multimodal.imageIoEncode("png", w, h, bgr)) ==
        Multimodal.aHash64(Multimodal.ppmEncode(w, h, bgr)))
    }
  }

  test("GIF multi-frame round-trip is lossless per frame on random gray stacks") {
    import graft.ops.Multimodal
    trials { rnd =>
      val w = 8 + rnd.nextInt(16)
      val h = 8 + rnd.nextInt(16)
      val frames = List.fill(1 + rnd.nextInt(4))(Array.fill(w * h)(rnd.nextInt(256).toByte))
      val decoded = Multimodal.gifFrames(Multimodal.gifEncode(w, h, frames))
      assert(decoded.length == frames.length, "demux must find every frame")
      decoded.zip(frames).foreach { case (d, src) =>
        assert(d.width == w && d.height == h)
        assert(d.lumaSum == src.map(_ & 0xFF).map(_.toLong).sum,
          "LZW + 256-gray palette must reproduce every sample")
      }
    }
  }

  test("mu-law decode equals the G.711 closed form on random code streams") {
    import graft.ops.Multimodal
    trials { rnd =>
      val channels = 1 + rnd.nextInt(2)
      val n = channels * (1 + rnd.nextInt(400))
      val codes = Array.fill(n)(rnd.nextInt(256).toByte)
      val wav = Multimodal.ulawWavDecode(
        Multimodal.ulawWavEncode(8000, channels, codes)).get
      assert(wav.channels == channels && wav.samples.length == n)
      codes.zip(wav.samples).foreach { case (c, s) =>
        assert(s == IngestSpec.ulawToLinear(c & 0xFF),
          "the JDK codec chain must match the spec's segment arithmetic")
      }
    }
  }

  test("avro round-trips random nested schemas and rows (struct/map/array at random depth)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // the round-13 nested conversion has the corner-richest surface in
    // the io tier (array-of-map, map-of-struct, nullable nesting at
    // every level) — fuzz it: random bounded-depth schemas + rows,
    // write through Avro.write, read through graft_avro, compare under
    // a canonical rendering (map iteration order is engine-private)
    def randType(rnd: Random, depth: Int): DataType = {
      val leaf = rnd.nextInt(6) match {
        case 0 => IntegerType
        case 1 => LongType
        case 2 => DoubleType
        case 3 => StringType
        case 4 => BooleanType
        case _ => BinaryType
      }
      if (depth <= 0) leaf
      else rnd.nextInt(6) match {
        case 0 => ArrayType(randType(rnd, depth - 1), rnd.nextBoolean())
        case 1 => MapType(StringType, randType(rnd, depth - 1), rnd.nextBoolean())
        case 2 => StructType((1 to 1 + rnd.nextInt(3)).map(i =>
          StructField(s"f$i", randType(rnd, depth - 1), rnd.nextBoolean())).toArray)
        case _ => leaf
      }
    }
    def randValue(rnd: Random, dt: DataType, nullable: Boolean): Any =
      if (nullable && rnd.nextInt(4) == 0) null
      else dt match {
        case IntegerType => rnd.nextInt()
        case LongType => rnd.nextLong()
        case DoubleType => rnd.nextDouble()
        case StringType => rnd.alphanumeric.take(rnd.nextInt(8)).mkString
        case BooleanType => rnd.nextBoolean()
        case BinaryType => Array.fill(rnd.nextInt(6))(rnd.nextInt(256).toByte)
        case ArrayType(et, cn) => Seq.fill(rnd.nextInt(4))(randValue(rnd, et, cn))
        case MapType(_, vt, vn) =>
          (1 to rnd.nextInt(4)).map(i =>
            s"k${rnd.nextInt(10)}_$i" -> randValue(rnd, vt, vn)).toMap
        case st: StructType =>
          Row.fromSeq(st.fields.toSeq.map(f => randValue(rnd, f.dataType, f.nullable)))
        case other => fail(s"unplanned type $other")
      }
    // canonical rendering: recursively sort map entries, hex binaries
    def canon(v: Any, dt: DataType): String = (v, dt) match {
      case (null, _) => "null"
      case (b: Array[Byte], BinaryType) => b.map("%02x".format(_)).mkString
      case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
        s.map(canon(_, et)).mkString("[", ",", "]")
      case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
        m.map { case (k, x) => s"$k->${canon(x, vt)}" }.toSeq.sorted
          .mkString("{", ",", "}")
      case (r: Row, st: StructType) =>
        st.fields.zipWithIndex.map { case (f, i) => canon(r.get(i), f.dataType) }
          .mkString("(", ",", ")")
      case (x, _) => x.toString
    }
    trials { rnd =>
      val schema = StructType(StructField("id", LongType, nullable = false) +:
        (1 to 1 + rnd.nextInt(3)).map(i =>
          StructField(s"c$i", randType(rnd, 2), rnd.nextBoolean())).toArray)
      val rows = (1 to 1 + rnd.nextInt(7)).map(i =>
        Row.fromSeq(i.toLong +: schema.fields.drop(1).toSeq
          .map(f => randValue(rnd, f.dataType, f.nullable))))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema)
      val out = "/tmp/graft_test/avro_fuzz"
      graft.io.Avro.write(df, out)
      val back = spark.read.format("graft_avro").load(out)
      assert(back.schema === schema, s"schema drift for $schema")
      def canonRows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => canon(r, schema)).sorted.toSeq
      assert(canonRows(back) === canonRows(df), s"row drift for $schema")
    }
  }

  test("pg numeric binary codec round-trips seeded random decimals exactly (pure JVM, no server)") {
    // the hand-rolled base-10000 encoder/decoder pair
    // (PgWire.writeNumericBinary / binaryToCatalyst) must be exact
    // inverses across scale extremes, carries, zeros, and signs —
    // checked without a server so the property covers shapes the
    // table fuzz's bounded generators may miss
    import org.apache.spark.sql.types.{Decimal, DecimalType}
    def roundTrip(bd: java.math.BigDecimal, p: Int, sc: Int): java.math.BigDecimal = {
      val buf = new java.io.ByteArrayOutputStream()
      graft.io.PgWire.writeNumericBinary(bd, new java.io.DataOutputStream(buf))
      val payload = buf.toByteArray.drop(4) // decoder takes the DataRow value bytes
      graft.io.PgWire.binaryToCatalyst(1700, DecimalType(p, sc))(payload)
        .asInstanceOf[Decimal].toJavaBigDecimal
    }
    // deterministic adversarial shapes first
    for (txt <- Seq("0", "0.0000", "1", "-1", "0.0001", "-0.0001", "10000.0001",
        "9999.9999", "123456789.5", "0.000000000000000001",
        "99999999999999999999.999999999999999999", "-10000", "5000.5")) {
      val bd = new java.math.BigDecimal(txt)
      val got = roundTrip(bd, 38, bd.scale)
      assert(got.compareTo(bd) == 0 && got.scale == bd.scale,
        s"'$txt' -> '$got' must round-trip value AND scale")
    }
    trials { rnd =>
      for (_ <- 1 to 20) {
        val scale = rnd.nextInt(19)
        val bits = 1 + rnd.nextInt(100)
        var u = new java.math.BigInteger(bits, rnd.self)
        if (rnd.nextBoolean()) u = u.negate()
        val bd = new java.math.BigDecimal(u, scale)
        val got = roundTrip(bd, 38, scale)
        assert(got.compareTo(bd) == 0 && got.scale == bd.scale,
          s"$bd (scale $scale) -> $got")
      }
    }
  }

  test("pg binary decode refuses non-representable values LOUDLY (infinity sentinels, NaN numeric)") {
    import org.apache.spark.sql.types.{DateType, DecimalType, TimestampType}
    def be32(v: Int) = Array[Byte](((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def be64(v: Long) = be32((v >> 32).toInt) ++ be32(v.toInt)
    // PG 'infinity' date/timestamp sentinels have no Catalyst value
    intercept[IllegalArgumentException] {
      graft.io.PgWire.binaryToCatalyst(1082, DateType)(be32(Int.MaxValue))
    }
    intercept[IllegalArgumentException] {
      graft.io.PgWire.binaryToCatalyst(1114, TimestampType)(be64(Long.MaxValue))
    }
    // NaN numeric (sign word 0xC000) has no Spark decimal
    val nan = Array[Byte](0, 0, 0, 0, 0xC0.toByte, 0, 0, 0)
    intercept[IllegalArgumentException] {
      graft.io.PgWire.binaryToCatalyst(1700, DecimalType(10, 2))(nan)
    }
    // unmapped OID/type pair is a loud refusal, not a silent null
    intercept[IllegalArgumentException] {
      graft.io.PgWire.binaryToCatalyst(23, DateType)
    }
  }

  test("postgres overwrite+read round-trips random flat schemas and adversarial values") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // the wire sink/source's corner surface is VALUE ENCODING: string
    // metacharacters, timestamp fraction shapes, decimal scale
    // padding, bytea, negative epochs — fuzz seeded random
    // flat schemas over the full supported type surface through a
    // REAL server and compare canonically
    val conn = graft.io.TestPg.conn
    val leafTypes: IndexedSeq[DataType] = IndexedSeq(IntegerType, LongType,
      DoubleType, FloatType, StringType, BooleanType, BinaryType, DateType,
      TimestampType, ShortType, ByteType, DecimalType(12, 4),
      // scale extremes for the binary base-10000 numeric decode: a
      // zero-scale integer decimal and the unconstrained-default wide
      // shape (weight/dscale alignment differs per scale)
      DecimalType(7, 0), DecimalType(38, 18))
    def randValue(rnd: Random, dt: DataType): Any =
      if (rnd.nextInt(4) == 0) null
      else dt match {
        case IntegerType => rnd.nextInt()
        case LongType => rnd.nextLong()
        case ShortType => rnd.nextInt().toShort
        case ByteType => rnd.nextInt().toByte
        // finite doubles/floats (NaN/Inf are not COPY-portable in the
        // plain text form this sink emits — the filter layer already
        // treats them as unrenderable)
        case DoubleType => rnd.nextLong() / 1e6
        case FloatType => (rnd.nextInt() / 1e3).toFloat
        case StringType =>
          // adversarial: COPY metachars, quotes, unicode
          val pool = Seq("\t", "\n", "\r", "\\", "'", "\"", "\\N", "é", "日",
            "x") ++ Seq.fill(6)(rnd.alphanumeric.take(3).mkString)
          Seq.fill(rnd.nextInt(5))(pool(rnd.nextInt(pool.size))).mkString
        case BooleanType => rnd.nextBoolean()
        case BinaryType => Array.fill(rnd.nextInt(8))(rnd.nextInt(256).toByte)
        case DateType => java.sql.Date.valueOf(
          java.time.LocalDate.of(1950, 1, 1).plusDays(rnd.nextInt(60000).toLong))
        case TimestampType =>
          // negative epochs + every fraction shape (micros-exact)
          val micros = (rnd.nextLong() % 4102444800000000L) /
            (1L << rnd.nextInt(20))
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
            Math.floorDiv(micros, 1000000L),
            Math.floorMod(micros, 1000000L) * 1000L))
        case d: DecimalType =>
          // unscaled value bounded by the declared precision so the
          // encoder's CheckOverflow never fires on generated data
          val bound = java.math.BigInteger.TEN.pow(math.min(d.precision, 15))
          val mag = new java.math.BigDecimal(
            new java.math.BigInteger(50, rnd.self).mod(bound), d.scale)
          if (rnd.nextBoolean()) mag.negate() else mag
        case other => fail(s"unplanned type $other")
      }
    def canon(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
      case x => x.toString
    }
    trials { rnd =>
      val schema = StructType(StructField("id", LongType, nullable = false) +:
        (1 to 2 + rnd.nextInt(4)).map(i =>
          StructField(s"c$i", leafTypes(rnd.nextInt(leafTypes.size)),
            nullable = true)).toArray)
      val rows = (1 to 1 + rnd.nextInt(9)).map(i =>
        Row.fromSeq(i.toLong +: schema.fields.drop(1).toSeq
          .map(f => randValue(rnd, f.dataType))))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema)
      // this draw once chose the (since removed) text COPY write
      // format; it stays so every trial's seeded values are unchanged
      rnd.nextBoolean()
      graft.io.Postgres.overwriteTable(df, conn, "graft_fuzz")
      def canonRows(rows: Seq[Row]) =
        rows.map(r => r.toSeq.map(canon).mkString("|")).sorted
      val want = canonRows(df.collect().toSeq)
      // DIFFERENTIAL across result formats (round 15): the binary
      // extended-query decode (network-order ints, PG-epoch offsets,
      // hand-rolled base-10000 numeric) and the server's text rendering
      // must both reproduce the source exactly — the same seeded
      // adversarial values cover the binary COPY on the way in and BOTH
      // decoders on the way out, so a binary-decode bug diverges from
      // text here instead of surviving as a plausible-looking value
      val back = spark.read.format("graft_pg")
        .option("port", conn.port.toString).option("dbtable", "graft_fuzz").load()
      for ((fmt, rows) <- Seq("binary" -> back.collect().toSeq,
          "text" -> graft.io.PgWireSpec.textRows(conn, "graft_fuzz", back.schema)))
        assert(canonRows(rows) === want, s"row drift ($fmt) for $schema")
    }
  }
}
