package graft.llm

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.SparkTestSession

/** ScalaCheck: the r17 agreement surface's reduction contracts on
  * ARBITRARY fixtures — [[LabelQa.kappaMatrix]] at exactly two raters
  * IS [[LabelQa.kappaCard]], and so is each of its rows at 3-5 raters
  * and each [[LabelQa.accuracyCard]] row (the three Cohen cards share
  * one core), and [[LabelQa.fleissPivot]] on a covering class list and
  * balanced design IS [[LabelQa.fleissCard]].
  * Generators skew marginals and plant disagreement freely, so the
  * pins hold on the ugly integer-division edge cases (tiny n, all-
  * agree, all-disagree, one-class), not just the hand fixtures in
  * LabelQaSpec. */
object LabelQaProps extends Properties("LabelQa") with SparkTestSession {

  private val labels = Vector("en", "no", "de", "sv")

  private val pairsGen: Gen[List[(String, String)]] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      a <- Gen.oneOf(labels)
      agree <- Gen.prob(0.5)
      b <- if (agree) Gen.const(a) else Gen.oneOf(labels)
    } yield (a, b))
  } yield rows

  property("kappaMatrix at two raters == kappaCard, column for column") =
    forAll(pairsGen) { rows =>
      import spark.implicits._
      val long = rows.zipWithIndex.flatMap { case ((la, lb), i) =>
        Seq((i.toLong, "a", la), (i.toLong, "b", lb)) }
      val m = LabelQa.kappaMatrix(long.toDF("item", "rater", "lab"),
        "item", "rater", "lab").collect()
      val c = LabelQa.kappaCard(rows.toDF("lab_a", "lab_b"),
        "lab_a", "lab_b").collect().head
      val cols = Seq("n_items", "n_agree", "po_ppm", "pe_sum",
        "pe_ppm", "kappa_ppm")
      val same = m.length == 1 &&
        cols.forall(k => m.head.getAs[Long](k) == c.getAs[Long](k))
      if (!same) println(s"MISMATCH rows=$rows\n matrix=${m.toSeq}\n card=$c")
      same
    }

  private val ratingsGen: Gen[(Int, List[(Long, List[String])])] = for {
    k <- Gen.choose(2, 5)
    n <- Gen.choose(1, 20)
    items <- Gen.listOfN(n, Gen.listOfN(k, Gen.oneOf(labels)))
  } yield (k, items.zipWithIndex.map { case (ls, i) => (i.toLong, ls) })

  property("fleissPivot on a covering list and balanced design == " +
      "fleissCard, column for column") =
    forAll(ratingsGen) { case (k, items) =>
      import spark.implicits._
      val pivot = LabelQa.fleissPivot(items.toDF("item", "labs"),
        "labs", labels, k).collect().head
      val long = items.flatMap { case (i, ls) =>
        ls.zipWithIndex.map { case (l, r) => (i, s"r$r", l) } }
      val card = LabelQa.fleissCard(long.toDF("item", "rater", "lab"),
        "item", "rater", "lab").collect().head
      val cols = Seq("n_items", "n_raters", "n_classes",
        "unbalanced_items", "po_ppm", "pe_ppm", "kappa_ppm")
      val same = cols.forall(c => pivot.getAs[Long](c) == card.getAs[Long](c))
      if (!same) println(s"MISMATCH k=$k items=$items\n pivot=$pivot\n card=$card")
      same
    }

  private val cohenCols = Seq("n_items", "n_agree", "po_ppm", "pe_sum",
    "pe_ppm", "kappa_ppm")

  /** A rating is missing (None) or a label, null included. */
  private val ratingGen: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some(null)),
    6 -> Gen.oneOf(labels).map(Some(_)))

  /** `(item, rater, lab)` rows for k raters over n items. */
  private def longGen(k: Int): Gen[List[(Long, String, String)]] = for {
    n <- Gen.choose(1, 20)
    cells <- Gen.listOfN(n * k, ratingGen)
  } yield cells.zipWithIndex.flatMap { case (c, j) =>
    c.map(l => ((j / k).toLong, s"r${j % k}", l)) }

  /** Each keyed `(la, lb)` pair list through [[LabelQa.kappaCard]],
    * as one collected union: key → the card's row. */
  private def cards(pairs: Map[String, List[(String, String)]])
      : Map[String, org.apache.spark.sql.Row] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    if (pairs.isEmpty) Map.empty
    else pairs.map { case (key, ps) =>
      LabelQa.kappaCard(ps.toDF("la", "lb"), "la", "lb")
        .withColumn("key", lit(key))
    }.reduce(_ unionByName _).collect()
      .map(r => r.getAs[String]("key") -> r).toMap
  }

  property("kappaMatrix at 3-5 raters with null labels: each row == " +
      "kappaCard over that rater pair's joined labels") =
    forAll(Gen.choose(3, 5).flatMap(longGen)) { long =>
      import spark.implicits._
      val m = LabelQa.kappaMatrix(long.toDF("item", "rater", "lab"),
        "item", "rater", "lab").collect()
        .map(r => Seq("rater_a", "rater_b").map(r.getAs[String])
          .mkString("|") -> r).toMap
      val byRater = long.groupBy(_._2).map { case (r, xs) =>
        r -> xs.map(x => x._1 -> x._3).toMap }
      val joined = (for {
        (a, la) <- byRater; (b, lb) <- byRater if a < b
        ps = la.toList.sortBy(_._1).collect {
          case (i, x) if lb.contains(i) => (x, lb(i)) }
        if ps.nonEmpty
      } yield s"$a|$b" -> ps).toMap
      val c = cards(joined)
      val same = m.keySet == c.keySet && m.forall { case (key, row) =>
        cohenCols.forall(k => row.getAs[Long](k) == c(key).getAs[Long](k)) }
      if (!same) println(s"MISMATCH long=$long\n matrix=$m\n cards=$c")
      same
    }

  property("accuracyCard: each rater's row == kappaCard over that " +
      "rater's (label, truth) pairs") =
    forAll(Gen.choose(1, 4).flatMap(longGen),
        Gen.listOfN(20, ratingGen)) { (long, truthCol) =>
      import spark.implicits._
      val truth = truthCol.zipWithIndex.collect {
        case (Some(t), i) => i.toLong -> t }.toMap
      val acc = LabelQa.accuracyCard(long.toDF("item", "rater", "lab"),
          "item", "rater", "lab", truth.toList.toDF("item", "truth"), "truth")
        .collect().map(r => r.getAs[String]("rater") -> r).toMap
      val graded = long.filter(x => truth.contains(x._1)).groupBy(_._2)
        .map { case (r, xs) => r -> xs.map(x => (x._3, truth(x._1))) }
      val c = cards(graded)
      val renamed = Map("n_agree" -> "n_correct", "po_ppm" -> "accuracy_ppm",
        "kappa_ppm" -> "kappa_vs_truth_ppm")
      val same = acc.keySet == c.keySet && acc.forall { case (r, row) =>
        cohenCols.forall(k =>
          row.getAs[Long](renamed.getOrElse(k, k)) == c(r).getAs[Long](k)) }
      if (!same)
        println(s"MISMATCH long=$long truth=$truth\n acc=$acc\n cards=$c")
      same
    }
}
