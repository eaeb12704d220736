package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.ops.Retrieval._

/** Property-based checks on the seams SURVEY §7.4 flags as easiest to get
  * wrong — each property pits the Spark implementation against an
  * independent in-JVM model over randomized inputs. */
class PropertySpec extends SparkSpec {

  private def check(prop: Prop, minTests: Int = 30): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minTests).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  import spark.implicits._

  test("zorder2 is a bijection: de-interleaving recovers both inputs") {
    val bits = 10
    def deinterleave(z: Long): (Int, Int) = {
      var (a, b) = (0, 0)
      (0 until bits).foreach { i =>
        a |= (((z >> (2 * i + 1)) & 1L) << i).toInt
        b |= (((z >> (2 * i)) & 1L) << i).toInt
      }
      (a, b)
    }
    val pairs = Gen.listOfN(200,
      Gen.zip(Gen.choose(0, 1023), Gen.choose(0, 1023)))
    check(forAll(pairs) { ps =>
      val df = ps.toDF("a", "b")
        .select(col("a"), col("b"), Fns.zorder2(col("a"), col("b"), bits).as("z"))
      df.collect().forall { r =>
        deinterleave(r.getLong(2)) == ((r.getInt(0), r.getInt(1)))
      }
    })
  }

  test("metaFilter F4 semantics match an in-JVM model on random typed JSON") {
    // model of memory_graph.py:5966-6046 (canonical Qdrant-side semantics):
    // bare numeric pred = '>=', list pred = membership, string pred = eq
    case class Doc(id: Int, k: Option[Either[Double, String]])
    val docGen = for {
      id <- Gen.choose(0, 1000000)
      k <- Gen.option(Gen.oneOf(
        Gen.choose(-100.0, 100.0).map(Left(_): Either[Double, String]),
        Gen.oneOf("x", "y", "z", "42", "true", "False", "0")
          .map(Right(_): Either[Double, String])))
    } yield Doc(id, k)

    val rangeGen: Gen[MetaRange] = for {
      gte <- Gen.option(Gen.choose(-50.0, 50.0))
      lte <- Gen.option(Gen.choose(-50.0, 50.0))
      gt <- Gen.option(Gen.choose(-50.0, 50.0))
      lt <- Gen.option(Gen.choose(-50.0, 50.0))
    } yield MetaRange(gte, lte, gt, lt)
    val predGen: Gen[MetaPred] = Gen.oneOf(
      Gen.choose(-50.0, 50.0).map(MetaAtLeast),
      Gen.oneOf("x", "y", "42", "true").map(MetaEq(_)),
      Gen.someOf(Seq("x", "y", "z", "42")).map(vs => MetaAnyOf(vs.toSeq)),
      Gen.oneOf(true, false).map(MetaBool),
      rangeGen)

    // Spark's permissive string→boolean cast table (try_cast returns null
    // outside it)
    def asBool(s: String): Option[Boolean] = s.toLowerCase match {
      case "true" | "t" | "y" | "yes" | "1"  => Some(true)
      case "false" | "f" | "n" | "no" | "0" => Some(false)
      case _ => None
    }
    def asNum(s: String): Option[Double] = scala.util.Try(s.toDouble).toOption

    def modelPass(doc: Doc, pred: MetaPred): Boolean = (doc.k, pred) match {
      // MetaRange with NO bounds is vacuously true — even for a missing key
      // (the predicate reduces to lit(true) before seeing the value)
      case (_, MetaRange(None, None, None, None)) => true
      case (None, _) => false // otherwise a missing key never matches (3VL)
      case (Some(Left(n)), MetaAtLeast(v))  => n >= v
      case (Some(Right(s)), MetaAtLeast(v)) => // numeric-string coercion
        asNum(s).exists(_ >= v)
      case (Some(Left(n)), MetaEq(v)) =>
        // JSON render of a double never string-equals a plain token unless
        // the rendered forms coincide
        jsonNum(n) == v
      case (Some(Right(s)), MetaEq(v))      => s == v
      case (Some(Left(n)), MetaAnyOf(vs))   => vs.contains(jsonNum(n))
      case (Some(Right(s)), MetaAnyOf(vs))  => vs.contains(s)
      case (Some(Left(_)), MetaBool(_))     => false // numerals cast via "1"/"0" only
      case (Some(Right(s)), MetaBool(v))    => asBool(s).contains(v)
      case (Some(k), MetaRange(gte, lte, gt, lt)) =>
        val num = k.fold(Some(_): Option[Double], asNum)
        num.exists(n =>
          gte.forall(n >= _) && lte.forall(n <= _) && gt.forall(n > _) && lt.forall(n < _))
      case _ => false
    }
    // get_json_object renders numerics as written; we write via to_json of
    // a double, which emits e.g. 7.25 / -3.0
    def jsonNum(n: Double): String =
      if (n == n.floor && !n.isInfinite) f"$n%.1f" else n.toString

    val caseGen = Gen.zip(Gen.listOfN(60, docGen), predGen)
    check(forAll(caseGen) { case (docs, pred) =>
      val rows = docs.map { d =>
        val json = d.k match {
          case Some(Left(n))  => s"""{"k": ${jsonNum(n)}}"""
          case Some(Right(s)) => s"""{"k": "$s"}"""
          case None           => """{}"""
        }
        (d.id, json)
      }
      val df = rows.toDF("id", "props")
      val got = df.filter(metaFilterJson(col("props"), Map("k" -> pred)))
        .select("id").as[Int].collect().toSet
      val want = docs.zip(rows).collect {
        case (d, (id, _)) if modelPass(d, pred) => id
      }.toSet
      got == want
    })
  }

  test("asofLatest == max-right-ts-<= model, tie/null-key/empty-partition edges") {
    // small key and ts domains force equal-timestamp ties, keys with no
    // right rows, and null keys — each a distinct semantic branch
    val leftGen = Gen.listOfN(40, for {
      id <- Gen.choose(0L, 1000000L)
      k <- Gen.option(Gen.choose(0, 4))
      ts <- Gen.choose(0L, 20L)
    } yield (id, k, ts))
    val rightGen = Gen.listOfN(25, for {
      k <- Gen.option(Gen.choose(0, 4))
      ts <- Gen.choose(0L, 20L)
    } yield (k, ts))
    check(forAll(Gen.zip(leftGen, rightGen)) { case (ls, rs) =>
      val left = ls.toDF("event_id", "k", "ts")
      val right = rs.toDF("k", "ts")
      val got = graft.ops.Temporal
        .asofLatest(left, right, "k", "ts", "event_id")
        .collect()
        .map(r => (r.getLong(0), Option(r.get(1)), r.getLong(2)) ->
          (if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
      val want = ls.map { case (id, k, ts) =>
        val asof = k.flatMap(kk => rs.collect {
          case (Some(rk), rts) if rk == kk && rts <= ts => rts
        }.maxOption)
        (id, k, ts) -> asof
      }.groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
      got == want
    }, minTests = 20)
  }

  test("rangeJoin == brute-force containment model on random points/intervals") {
    val caseGen = for {
      nP <- Gen.choose(5, 60)
      points <- Gen.listOfN(nP, Gen.zip(Gen.choose(0L, 1000000L),
        Gen.choose(0, 3), Gen.choose(0L, 500L)))
      nI <- Gen.choose(3, 25)
      ivs <- Gen.listOfN(nI, for {
        id <- Gen.choose(0L, 1000000L)
        k <- Gen.choose(0, 3)
        s <- Gen.choose(0L, 500L)
        len <- Gen.choose(1L, 120L)
      } yield (id, k, s, s + len))
      width <- Gen.oneOf(7, 30, 100)
    } yield (points, ivs, width)
    check(forAll(caseGen) { case (ps, ivs, width) =>
      val points = ps.map { case (id, k, s) =>
        (id, k, new java.sql.Timestamp(s * 1000L)) }.toDF("point_id", "k", "ts")
      val intervals = ivs.map { case (id, k, s, e) =>
        (id, k, new java.sql.Timestamp(s * 1000L), new java.sql.Timestamp(e * 1000L))
      }.toDF("iv_id", "k", "w_start", "w_end")
      val got = graft.ops.Temporal.rangeJoin(points, "ts", intervals,
          "w_start", "w_end", binWidthSec = width, keys = Seq("k"))
        .select(col("point_id"), col("iv_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val want = (for {
        (pid, pk, pts) <- ps
        (ivid, ik, s, e) <- ivs
        if pk == ik && pts >= s && pts < e // half-open [start, end)
      } yield (pid, ivid)).sorted
      got == want
    }, minTests = 20)
  }

  test("TopK aggregator == sort-take model under random data and partitioning") {
    val rowsGen = for {
      n <- Gen.choose(1, 300)
      rows <- Gen.listOfN(n, Gen.zip(
        Gen.oneOf("g1", "g2", "g3"),
        Gen.choose(0.0, 10.0),
        Gen.choose(0L, 1000000L)))
      parts <- Gen.choose(1, 7)
      k <- Gen.choose(1, 6)
    } yield (rows, parts, k)
    check(forAll(rowsGen) { case (rows, parts, k) =>
      val topk = graft.ops.TopK.topK(k)
      val got = rows.toDF("g", "score", "id").repartition(parts)
        .groupBy(col("g")).agg(topk(col("score"), col("id")).as("top"))
        .select(col("g"), explode(col("top")).as("s"))
        .select(col("g"), col("s.score"), col("s.id"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
      val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
        rs.map { case (_, s, i) => (g, s, i) }
          .sortBy { case (_, s, i) => (-s, i) }.take(k)
      }.toSet
      got == want
    })
  }
}
