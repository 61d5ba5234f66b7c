package graft.chem

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Materialize.barrier

/** Pluggable chemistry boundary isolating the reference's only
  * un-portable dependency (RDKit: MolFromSmiles / ReactionFromSmarts /
  * RunReactant / ExactMolWt — gizmos.py:193-234, 247-291;
  * heraldPathways.py:183-242).
  *
  * The engine's pipelines only consume the *relational* face of chemistry:
  * given a substrate row and a reaction rule, emit zero-or-more virtual
  * product rows (a UDTF/Generator shape) with a product mass and a
  * deterministic product key. Two backends ship:
  * [[MassOnlyBackend]] computes exactly the mass arithmetic the downstream
  * joins need; [[TableChemBackend]] replays real reaction products from a
  * fixture table (the relational stand-in for RunReactant — same
  * substrate, same rule ⇒ same product set, looked up instead of
  * computed). A real RDKit-backed implementation would swap in behind the
  * same trait without touching any pipeline.
  */
trait ChemBackend extends Serializable {

  /** Expand substrates × applicable rules into virtual product rows —
    * the RunReactant Generator (gizmos.py:193-234). `rules` must be small
    * (it is broadcast).
    *
    * @return columns (substrate_id, ruleIdCol, product_id, product_mass,
    *         root) — zero rows for substrates no rule applies to. */
  def virtualProducts(substrates: DataFrame, rules: DataFrame,
                      idCol: String, massCol: String, rootCol: String,
                      ruleIdCol: String = "rule_id",
                      ruleDeltaCol: String = "mass_delta"): DataFrame
}

/** Default backend: pure mass arithmetic, md5-derived product keys —
  * reproducible everywhere, zero native deps. */
object MassOnlyBackend extends ChemBackend {

  /** Product mass for (substrateMass, rule mass delta). Null = the rule
    * does not apply. */
  def productMass(substrateMass: Column, ruleDelta: Column): Column =
    substrateMass + ruleDelta

  /** Deterministic product identity (the reference canonicalizes SMILES;
    * gizmos.py:294-327). */
  def productKey(rootId: Column, ruleId: Column, mass: Column): Column =
    concat(lit("VM_"), substring(md5(concat(
      rootId.cast("string"), lit(":"), ruleId.cast("string"),
      lit(":"), round(mass, 4).cast("string"))), 1, 7))

  override def virtualProducts(substrates: DataFrame, rules: DataFrame,
                               idCol: String, massCol: String, rootCol: String,
                               ruleIdCol: String = "rule_id",
                               ruleDeltaCol: String = "mass_delta"): DataFrame = {
    val prods = substrates.crossJoin(broadcast(rules))
      .withColumn("product_mass", productMass(col(massCol), col(ruleDeltaCol)))
      .where(col("product_mass").isNotNull && col("product_mass") > 0)
    prods.withColumn("product_id",
        productKey(col(rootCol), col(ruleIdCol), col("product_mass")))
      .select(col(idCol).as("substrate_id"), col(ruleIdCol),
        col("product_id"), col("product_mass"), col(rootCol).as("root"))
  }
}

/** Fixture-driven backend (SURVEY §7.2.5's lookup-table RunReactant): the
  * product set of (substrate, rule) is REPLAYED from a table instead of
  * computed — matching gizmos.py:193-234 at the relational level, where
  * the same substrate structure under the same rule always yields the
  * same products (RDKit is deterministic). The mass-only world's stand-in
  * for "same structure" is the substrate mass rounded to `keyD` decimals,
  * so iteration-generated virtual structures hit the table exactly like
  * seeds do.
  *
  * One (substrate, rule) key may carry SEVERAL product rows — the
  * generator fan-out a single mass delta cannot express. Product identity
  * comes from the table (the reference's canonical product SMILES), so
  * distinct roots reaching the same product key CONVERGE — again unlike
  * MassOnlyBackend, whose md5 key embeds the root.
  *
  * @param products fixture with columns (`subKeyCol`: rounded substrate
  *                 mass key, `ruleIdCol`, `productIdCol`, `productMassCol`);
  *                 small relative to the corpus — it is broadcast into the
  *                 expansion join, the Spark analogue of the reference's
  *                 fork-inherited rule map (heraldPathways.py:677-679)
  * @param keyD     decimals of the substrate-mass lookup key
  */
final case class TableChemBackend(products: DataFrame, keyD: Int = 1)
    extends ChemBackend {

  /** The narrowed lookup table, memoized per rules frame: an iterative
    * caller (Herald.reactionLoop) invokes virtualProducts once per level
    * with the SAME rules, and without the memo each level re-derives and
    * re-broadcasts the table (measured ~0.3 s/level on the herald-table
    * pipeline). The first level builds it behind a barrier, later levels
    * read its checkpoint blocks. Identity-keyed: a different rules frame
    * is a different narrowing. Bounded to the few most recent entries —
    * dropping an evicted frame's reference lets Spark's ContextCleaner
    * reclaim its checkpoint blocks, so a long-lived backend fed many
    * distinct rules frames cannot accumulate storage without bound. */
  @transient private lazy val tblCache =
    new java.util.LinkedHashMap[DataFrame, DataFrame](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[DataFrame, DataFrame]): Boolean = size() > 4
    }

  override def virtualProducts(substrates: DataFrame, rules: DataFrame,
                               idCol: String, massCol: String, rootCol: String,
                               ruleIdCol: String = "rule_id",
                               ruleDeltaCol: String = "mass_delta"): DataFrame = {
    // rules narrows the table to the rule set this run uses (the reference
    // filters its rule DB the same way before reacting — gizmos.py:403-428)
    val tbl = tblCache.synchronized {
      var t = tblCache.get(rules)
      if (t == null) {
        t = barrier(products
          .join(broadcast(rules.select(col(ruleIdCol)).distinct()), Seq(ruleIdCol))
          .select(col("sub_mass_key"), col(ruleIdCol),
            col("product_id"), col("product_mass")), "chemBackend.t")
        tblCache.put(rules, t)
      }
      t
    }
    substrates
      .withColumn("sub_mass_key", round(col(massCol), keyD))
      .join(broadcast(tbl), Seq("sub_mass_key"))
      .where(col("product_mass").isNotNull && col("product_mass") > 0)
      .select(col(idCol).as("substrate_id"), col(ruleIdCol),
        col("product_id"), col("product_mass"), col(rootCol).as("root"))
  }
}
