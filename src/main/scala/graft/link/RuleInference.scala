package graft.link

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * G5: weighted Horn-rule inference over the triples/edge table
 * (evaluate/GraphInferenceEngine.java:21-380; off by default in the
 * reference — base.conf test.graph.inference.do=false — implemented here
 * as the Spark-native shape: one join per body atom, depth-bounded).
 *
 * Rule: body1(x, y) ∧ body2(y, z) -> head(x, z) with confidence w;
 * derived edge score = w * score1 * score2.
 */
object RuleInference {

  final case class Rule(body1: String, body2: String, head: String,
                        weight: Double)

  /** The reference's mined-rules file is not shipped; these mirror its
   *  geo/org-chain rule shapes. */
  val defaultRules: Seq[Rule] = Seq(
    // a subsidiary of a subsidiary is a subsidiary
    Rule("org:subsidiaries", "org:subsidiaries", "org:subsidiaries", 0.9),
    // employee of a subsidiary works for the parent's group (weak)
    Rule("org:subsidiaries", "org:top_members/employees",
      "org:top_members/employees", 0.5))

  /** One inference round: apply every rule as a self-join on the edge
   *  table; union new edges (anti-joined against existing). */
  def applyOnce(spark: SparkSession, edges: DataFrame,
                rules: Seq[Rule] = defaultRules): DataFrame = {
    import spark.implicits._
    val derived = rules.map { r =>
      edges.filter($"pred" === r.body1).as("a")
        .join(edges.filter($"pred" === r.body2).as("b"),
          $"a.obj" === $"b.subj" && $"a.subj" =!= $"b.obj")
        .select($"a.subj".as("subj"), lit(r.head).as("pred"),
          $"b.obj".as("obj"),
          ($"a.score" * $"b.score" * r.weight).as("score"))
    }.reduce(_ unionByName _).distinct()
    val fresh = derived.join(edges.select("subj", "pred", "obj"),
      Seq("subj", "pred", "obj"), "left_anti")
    edges.select($"subj", $"pred", $"obj", $"score").unionByName(fresh)
  }

  /** Depth-bounded application (test.graph.inference.depth = 3); each
   *  round's one action materializes the grown edge table. */
  def infer(spark: SparkSession, edges: DataFrame,
            rules: Seq[Rule] = defaultRules, depth: Int = 3): DataFrame =
    graft.ops.Fixpoint.run(spark, "ruleInference", depth - 1) { _ =>
      (edges.select("subj", "pred", "obj", "score"), false)
    } { (acc, r) =>
      val next = r.cache(applyOnce(spark, acc, rules))
      graft.ops.Fixpoint.count(next)
      (next, false)
    } { (acc, _) => acc }
}
