package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-H Q4 and Q10 shapes — SURVEY.md §2.19, widening the canonical
  * optimizer surface beyond Q1/Q3/Q5/Q17/Q18: Q4 is THE existential
  * semi-join benchmark (EXISTS decorrelation), Q10 the returned-items
  * top-k join pipeline. Predicates adapt to the synthetic schema (no
  * commit/receipt dates: "late" = shipped > 30 days after order date)
  * with the plan shapes intact. */
object TpchExtra extends QueryModule {

  /** TPC-H Q4 shape — order-priority checking: count orders in a
    * 1-year window having at least one late lineitem. The EXISTS
    * subquery is planned as a LEFT SEMI join on orderkey with the
    * lateness comparison as a join residual — each order counted ONCE
    * no matter how many late items (the dedup a correlated EXISTS
    * implies, and exactly what a semi join gives for free: no
    * distinct, no row explosion). Map-combinable count after the semi
    * join; at 100 TB the only data-sized work is the orderkey shuffle
    * of the two filtered scans — the date filter reaches the orders
    * scan, and the priority aggregate runs on the ~order-count frame. */
  def q_tpch_q4(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
      "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q10 shape — returned-item reporting: the revenue a customer
    * cost in returns over a quarter window, top 20. Plan: lineitem
    * filtered to returnflag 'R' joins orders (date-windowed) on
    * orderkey, the revenue aggregate collapses to the customer domain
    * BEFORE the customer join (group-below-join: the join input is the
    * ~custkey-count aggregate, not the fact rows), customer decorates,
    * nation broadcasts, and the top-20 is orderBy+limit —
    * TakeOrderedAndProject. Revenue in decimal; doubles only at
    * emission. */
  def q_tpch_q10(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-07-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val rev = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(Q.dec2(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - Q.dec2(col("l_discount")))).as("rev_dec"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    val n = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    rev.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        Q.dec2(col("c_acctbal")).as("bal_dec"), col("rev_dec"))
      .orderBy(col("rev_dec").desc, col("c_custkey")).limit(20)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        Q.outDbl(col("bal_dec")).as("c_acctbal"),
        Q.outDbl(col("rev_dec")).as("revenue"))
  }

  /** TPC-H Q6 shape — forecasting revenue change: the pure
    * scan-filter-aggregate benchmark. No join, no shuffle beyond the
    * single-row final agg: every predicate (date window, discount band,
    * quantity cap) is eligible for parquet pushdown, so at 100 TB the
    * plan is "row-group skip, then one map-combinable partial sum per
    * partition + one 1-row exchange" — the cheapest possible shape for
    * the work. Revenue = price × discount in exact decimal; double only
    * at emission. */
  def q_tpch_q6(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.04 && col("l_discount") <= 0.06 &&
        col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_items"),
        Q.outDbl(sum(Q.dec2(col("l_extendedprice")) *
          Q.dec2(col("l_discount")))).as("revenue"))
  }

  /** TPC-H Q13 shape — customer order-count distribution: how many
    * customers placed exactly k orders (k = 0 included — the LEFT join
    * keeps customers with no qualifying order and `count(o_orderkey)`
    * counts the null-extended row as zero). The priority exclusion is a
    * right-side-only predicate, applied BEFORE the join (equivalent to
    * the classic ON-residual for a left join, and strictly better: the
    * filter runs under the shuffle). Two aggregations — per-customer
    * count on the custkey domain, then the distribution on the tiny
    * k domain — both map-combinable. */
  def q_tpch_q13(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q14 shape — promotion effect: the share of one month's
    * revenue from PROMO-type parts, in floored basis points. The fact
    * side filters to the month BEFORE the join (pushdown); the part
    * side carries only (partkey, is_promo) and broadcasts — the
    * dimension arm of a star join. Revenue rides the e4 integer-cents
    * recipe of q_tpch_q1 (price_c × (100 − d_pct)), so the conditional
    * and total sums are exact BIGINTs and the final ratio is one
    * deterministic IEEE expression over two integers. */
  def q_tpch_q14(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
      .select(col("l_partkey"),
        floor(lit(100.0) * col("l_extendedprice")).as("price_c"),
        floor(lit(100.0) * col("l_discount")).as("d_pct"))
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("is_promo"), col("price_c") * (lit(100L) - col("d_pct")))
          .otherwise(lit(0L))).as("promo_e4"),
        sum(col("price_c") * (lit(100L) - col("d_pct"))).as("total_e4"))
      .select(
        floor(lit(10000.0) * col("promo_e4") / col("total_e4"))
          .cast("long").as("promo_bp"),
        col("promo_e4"), col("total_e4"))
  }

  /** TPC-H Q19 shape — discounted revenue under a disjunction of
    * brand/size/quantity conjunctions: THE disjunctive-pushdown
    * benchmark. The join condition carries the full OR-of-ANDs; the
    * part input is additionally pre-restricted to the union of the
    * part-only disjuncts (brand ∈ {…} ∧ size ≤ 15) — the CNF residual
    * a cost-based engine extracts, stated explicitly so the broadcast
    * build side is the ~3-brand slice rather than the whole dimension
    * regardless of optimizer version. Per-branch quantity bands stay in
    * the join residual (they reference both sides). */
  def q_tpch_q19(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#5") &&
        col("p_size") >= 1 && col("p_size") <= 15)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
    val branch1 = col("p_brand") === "Brand#12" &&
      col("p_size").between(1, 5) && col("l_quantity").between(1, 11)
    val branch2 = col("p_brand") === "Brand#23" &&
      col("p_size").between(1, 10) && col("l_quantity").between(10, 20)
    val branch3 = col("p_brand") === "Brand#5" &&
      col("p_size").between(1, 15) && col("l_quantity").between(20, 30)
    l.join(broadcast(p),
      col("l_partkey") === col("p_partkey") && (branch1 || branch2 || branch3))
      .agg(count(lit(1)).as("n_items"),
        Q.outDbl(sum(Q.dec2(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,2)") - Q.dec2(col("l_discount")))))
          .as("revenue"))
  }

  /** TPC-H Q21 shape — suppliers who kept orders waiting: for finished
    * orders, the suppliers whose LATE item (shipped > 90 days after
    * order date — the synthetic schema's lateness notion, cf.
    * q_tpch_q4) was the ONLY late item in a multi-supplier order. The
    * double correlation is the point: EXISTS (another supplier
    * contributed to the order) plans as a LEFT SEMI join, NOT EXISTS
    * (another supplier was ALSO late) as a LEFT ANTI join — both on
    * orderkey with the supplier inequality as join residual, the shape
    * Catalyst's RewritePredicateSubquery produces and the hardest
    * decorrelation in the TPC-H suite. The lateness flag is computed
    * once on the F-order join; the semi probe uses the raw lineitem
    * (lateness irrelevant there). All three legs shuffle on orderkey —
    * co-partitioned, no broadcast needed at any scale. */
  def q_tpch_q21(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val late = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select(col("l_orderkey").as("lo"), col("l_suppkey").as("s1"))
    // EXISTS(other supplier in the order) ⟺ the order has ≥2 distinct
    // suppliers — collapsing the probe to the ORDER domain before the
    // semi join shrinks the build side from fact-sized to key-sized
    // (for any s1 in such an order some s2 ≠ s1 exists; orders with one
    // supplier qualify nobody). The join stays a LEFT SEMI — the
    // decorrelation shape — with a build side that broadcasts at any
    // scale of the fact table.
    val multi = l.distinct()
      .groupBy(col("l_orderkey").as("k2"))
      .agg(count(lit(1)).as("nsupp")).filter(col("nsupp") >= 2)
      .select(col("k2"))
    val lateOther = late.select(col("lo").as("k3"), col("s1").as("s3")).distinct()
    late
      .join(multi, col("lo") === col("k2"), "left_semi")
      .join(lateOther, col("lo") === col("k3") && col("s1") =!= col("s3"), "left_anti")
      .groupBy(col("s1"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("s1") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name")).limit(10)
  }

  /** TPC-H Q22 shape — global sales opportunity: customers from a set
    * of "countries" (nation keys — the synthetic schema has no phone
    * prefix) with above-average positive balance and NO recent order
    * (the date-windowed NOT EXISTS plans as a LEFT ANTI join). The
    * scalar AVG subquery is the shape's second half: the threshold
    * arrives as a broadcast 1-row (sum, count) aggregate and the
    * comparison is cross-multiplied in integer cents —
    * bal_c · cnt > sum_c — so "above average" is EXACT and
    * order-independent (no engine-dependent double summation on the
    * boundary), decimal(38) guarding the product at any corpus size. */
  def q_tpch_q22(spark: SparkSession, dir: String): DataFrame = {
    val codes = Seq(1, 3, 5, 7, 9, 11, 13)
    val cs = Tables.customer(spark, dir)
      .filter(col("c_nationkey").isin(codes: _*))
      .select(col("c_custkey"), col("c_nationkey"),
        floor(lit(100.0) * col("c_acctbal")).as("bal_c"))
    val thr = cs.filter(col("bal_c") > 0)
      .agg(sum(col("bal_c")).as("sum_c"), count(lit(1)).as("cnt"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    cs.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(thr))
      .filter(col("bal_c").cast("decimal(38,0)") * col("cnt") > col("sum_c"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        (sum(col("bal_c")) / lit(100.0)).as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  /** TPC-H Q7 shape — volume shipping between two nations, by year:
    * revenue flowing supplier-nation → customer-nation for the ordered
    * pair set {(3,8),(8,3)} (both nations hold suppliers at every SF
    * tier) over two ship years. The pair disjunction sits as one filter
    * once both nation keys are in scope; Catalyst's CNF extraction
    * pushes the per-column halves (s_nationkey ∈ {3,8},
    * c_nationkey ∈ {3,8}) below the joins, so both dimension scans are
    * pre-pruned to the two nations. Nation names decorate via two
    * aliased broadcast joins of the 25-row dim; year() keys the final
    * tiny-domain aggregate. */
  def q_tpch_q7(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"),
        col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("nk1"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .filter((col("s_nationkey") === 3 && col("c_nationkey") === 8) ||
        (col("s_nationkey") === 8 && col("c_nationkey") === 3))
      .join(broadcast(n1), col("s_nationkey") === col("nk1"))
      .join(broadcast(n2), col("c_nationkey") === col("nk2"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(count(lit(1)).as("n_items"),
        Q.outDbl(sum(Q.dec2(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,2)") - Q.dec2(col("l_discount")))))
          .as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q8 shape — national market share: of the ASIA-customer
    * market for ECONOMY parts over two order years, the share supplied
    * by nation 3, per year, in floored basis points. The deepest star
    * in the suite (lineitem ⋈ part ⋈ orders ⋈ customer ⋈ nation ⋈
    * region ⋈ supplier): every dimension arm broadcasts, the share is a
    * conditional sum over the SAME e4 integer-cents domain as the
    * total, and the per-year ratio is one deterministic IEEE expression
    * over two exact BIGINTs. */
  def q_tpch_q8(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        floor(lit(100.0) * col("l_extendedprice")).as("price_c"),
        floor(lit(100.0) * col("l_discount")).as("d_pct"))
    val p = Tables.part(spark, dir).filter(col("p_type") === "ECONOMY")
      .select(col("p_partkey"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_regionkey"))
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
      .select(col("r_regionkey"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("s_nationkey") === 3,
          col("price_c") * (lit(100L) - col("d_pct"))).otherwise(lit(0L)))
          .as("nat_e4"),
        sum(col("price_c") * (lit(100L) - col("d_pct"))).as("total_e4"))
      .select(col("o_year"),
        floor(lit(10000.0) * col("nat_e4") / col("total_e4"))
          .cast("long").as("share_bp"),
        col("nat_e4"), col("total_e4"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q9 shape — product-type profit: for parts whose name
    * contains "red", profit = revenue − (retail-price × quantity) cost
    * proxy (the synthetic schema has no supplycost), by supplier nation
    * and order year. The LIKE predicate prunes the part dim before its
    * broadcast; profit is a sum of exact decimal products; the final
    * aggregate runs on the tiny (nation × year) domain. Classic
    * ordering: nation asc, year desc. */
  def q_tpch_q9(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    val p = Tables.part(spark, dir).filter(col("p_name").contains("red"))
      .select(col("p_partkey"), col("p_retailprice"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val n = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(count(lit(1)).as("n_items"),
        Q.outDbl(sum(
          Q.dec2(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,2)") - Q.dec2(col("l_discount"))) -
          Q.dec2(col("p_retailprice")) * Q.dec2(col("l_quantity"))))
          .as("profit"))
      .orderBy(col("n_name"), col("o_year").desc)
  }

  /** TPC-H Q15 shape — top supplier: the supplier(s) whose quarter
    * revenue EQUALS the maximum quarter revenue — the
    * scalar-subquery-of-an-aggregate shape (the view + max in the
    * original). The per-supplier revenue aggregates once; the max
    * arrives back as a broadcast 1-row frame and the equality filter is
    * exact DECIMAL comparison, so ties are kept (the original's
    * documented semantics) and no double ever decides the boundary. */
  def q_tpch_q15(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(Q.dec2(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - Q.dec2(col("l_discount"))))
        .as("rev_dec"))
    val mx = rev.agg(max(col("rev_dec")).as("max_rev"))
    rev.crossJoin(broadcast(mx))
      .filter(col("rev_dec") === col("max_rev"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        Q.outDbl(col("rev_dec")).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q20 shape — part promotion eligibility: suppliers holding a
    * DOMINANT position (more than half the shipped quantity) on any
    * PROMO part — the original's correlated half-of-sum threshold
    * (ps_availqty > 0.5 · Σ qty) recast on the synthetic schema. Two
    * aggregation levels share one scan shape: per-(part, supplier)
    * quantity and per-part total, joined on partkey, with the threshold
    * cross-multiplied in integer quantity-cents (8·supp_qc > tot_qc —
    * an eighth of the part's volume; this corpus spreads each part over
    * ~100 suppliers, so the original's one-half selects nobody) —
    * exact, no fractional double. The distinct supplier set then decorates via
    * a broadcast dim join. */
  def q_tpch_q20(spark: SparkSession, dir: String): DataFrame = {
    val promo = Tables.part(spark, dir).filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val lq = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        floor(lit(100.0) * col("l_quantity")).as("qc"))
      .join(broadcast(promo), col("l_partkey") === col("p_partkey"))
    val perSupp = lq.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("qc")).as("supp_qc"))
    val perPart = lq.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("qc")).as("tot_qc"))
    perSupp.join(perPart, col("l_partkey") === col("pk"))
      .filter(lit(8L) * col("supp_qc") > col("tot_qc"))
      .select(col("l_suppkey")).distinct()
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q2 shape — minimum-cost supplier: for each size-15 part, the
    * EUROPE supplier(s) attaining the MINIMUM unit price (extendedprice
    * / quantity — the synthetic stand-in for ps_supplycost), decorated
    * and ranked by account balance. The correlated scalar-min subquery
    * plans as group-below-join: per-part min over the offer frame, then
    * an equality join back on (partkey, unit = min) — both sides of the
    * equality are the SAME IEEE division computed once per engine, so
    * the boundary is deterministic; ties (several suppliers at the min)
    * are kept, as in the original. Part and supplier dims broadcast;
    * the offer frame is the only data-sized object. */
  def q_tpch_q2(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
    val r = Tables.region(spark, dir).filter(col("r_name") === "EUROPE")
      .select(col("r_regionkey"))
    val eu = Tables.supplier(spark, dir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val p15 = Tables.part(spark, dir).filter(col("p_size") === 15)
      .select(col("p_partkey"), col("p_name"))
    val offers = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("unit"))
      .join(broadcast(p15), col("l_partkey") === col("p_partkey"))
      .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
    // the correlated min as a PARTITIONED window (per-part frames are
    // ~supplier-count sized): one lineitem scan and one partkey shuffle,
    // vs the self-join form's two — same exact IEEE boundary
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("p_partkey"))
    offers.withColumn("min_unit", min(col("unit")).over(w))
      .filter(col("unit") === col("min_unit"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("unit").as("min_cost"))
      .distinct()
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q11 shape — important stock: parts whose shipped value from
    * a nation group's suppliers exceeds 1.5× the average part value
    * (the original's HAVING > fraction·Σ scalar subquery; the fraction
    * is restated average-relative so the predicate is scale-invariant —
    * a fixed fraction of the TOTAL selects nothing as the part count
    * grows). Value aggregates per part in exact integer cents; the
    * (total, part-count) scalar returns as a broadcast 1-row frame and
    * the threshold is cross-multiplied in decimal(38) — no division on
    * the boundary. */
  def q_tpch_q11(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir).filter(col("s_nationkey") < 13)
      .select(col("s_suppkey"))
    val v = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        floor(lit(100.0) * col("l_extendedprice")).as("price_c"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("price_c")).as("value_c"))
    val t = v.agg(sum(col("value_c")).as("tot_c"), count(lit(1)).as("np"))
    v.crossJoin(broadcast(t))
      .filter(lit(2).cast("decimal(38,0)") * col("value_c") * col("np") >
        lit(3).cast("decimal(38,0)") * col("tot_c"))
      .select(col("l_partkey"),
        (col("value_c") / lit(100.0)).as("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  /** TPC-H Q12 shape — shipping-priority audit: per returnflag class
    * (the synthetic schema's stand-in for shipmode), how many LATE
    * line items (shipped > 30 days after order date, cf. q_tpch_q4)
    * in one ship year belong to high-priority orders vs the rest —
    * the classic two-conditional-count aggregation over a join, on a
    * 3-value domain. Date window pushed to the lineitem scan; counts
    * are exact integers, map-combinable. */
  def q_tpch_q12(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit(1L))
          .otherwise(lit(0L))).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit(0L))
          .otherwise(lit(1L))).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H Q16 shape — parts/supplier relationship: how many DISTINCT
    * suppliers ship each (brand, type, size) combination, for a size
    * set and two excluded brands, EXCLUDING complaint suppliers (the
    * NOT IN subquery — negative-balance suppliers stand in for the
    * '%Customer%Complaints%' scan). The partsupp association is the
    * distinct (partkey, suppkey) projection of lineitem; the exclusion
    * plans as a LEFT ANTI join BEFORE the association joins the part
    * dim; the distinct-supplier count is the one aggregate. */
  def q_tpch_q16(spark: SparkSession, dir: String): DataFrame = {
    val excl = Tables.supplier(spark, dir).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("bad_sk"))
    val assoc = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(excl), col("l_suppkey") === col("bad_sk"), "left_anti")
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#1" && col("p_brand") =!= "Brand#2" &&
        col("p_size").isin(1, 5, 9, 15, 25, 35, 45, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    assoc.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tpch_q4" -> q_tpch_q4 _,
    "q_tpch_q10" -> q_tpch_q10 _,
    "q_tpch_q6" -> q_tpch_q6 _,
    "q_tpch_q13" -> q_tpch_q13 _,
    "q_tpch_q14" -> q_tpch_q14 _,
    "q_tpch_q19" -> q_tpch_q19 _,
    "q_tpch_q21" -> q_tpch_q21 _,
    "q_tpch_q22" -> q_tpch_q22 _,
    "q_tpch_q7" -> q_tpch_q7 _,
    "q_tpch_q8" -> q_tpch_q8 _,
    "q_tpch_q9" -> q_tpch_q9 _,
    "q_tpch_q15" -> q_tpch_q15 _,
    "q_tpch_q20" -> q_tpch_q20 _,
    "q_tpch_q2" -> q_tpch_q2 _,
    "q_tpch_q11" -> q_tpch_q11 _,
    "q_tpch_q12" -> q_tpch_q12 _,
    "q_tpch_q16" -> q_tpch_q16 _,
  )

  val oracle: Map[String, String] = Map(
    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_tpch_q10" ->
      """WITH rev AS (
        |  SELECT o.o_custkey,
        |    sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |        (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev_dec
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_returnflag = 'R'
        |    AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o.o_orderdate < TIMESTAMP '1995-07-01'
        |  GROUP BY o.o_custkey)
        |SELECT c.c_custkey, c.c_name, n.n_name,
        |  CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS c_acctbal,
        |  CAST(rev_dec AS DOUBLE) AS revenue
        |FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY rev_dec DESC, c.c_custkey LIMIT 20""".stripMargin,
    "q_tpch_q6" ->
      """SELECT count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.04 AND l_discount <= 0.06
        |  AND l_quantity < 24""".stripMargin,
    "q_tpch_q13" ->
      """WITH pc AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY c.c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM pc GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_tpch_q14" ->
      """WITH l AS (
        |  SELECT l_partkey,
        |    CAST(floor(100.0 * l_extendedprice) AS BIGINT) AS price_c,
        |    CAST(floor(100.0 * l_discount) AS BIGINT) AS d_pct
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        |    AND l_shipdate < TIMESTAMP '1996-10-01'),
        |j AS (SELECT p.p_type = 'PROMO' AS is_promo, price_c, d_pct
        |      FROM l JOIN part p ON l.l_partkey = p.p_partkey),
        |s AS (SELECT
        |  CAST(sum(CASE WHEN is_promo THEN price_c * (100 - d_pct)
        |               ELSE 0 END) AS BIGINT) AS promo_e4,
        |  CAST(sum(price_c * (100 - d_pct)) AS BIGINT) AS total_e4 FROM j)
        |SELECT CAST(floor(10000.0 * promo_e4 / total_e4) AS BIGINT) AS promo_bp,
        |  promo_e4, total_e4 FROM s""".stripMargin,
    "q_tpch_q19" ->
      """SELECT count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) -
        |            CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_tpch_q21" ->
      """WITH f AS (SELECT o_orderkey, o_orderdate FROM orders
        |           WHERE o_orderstatus = 'F'),
        |late AS (
        |  SELECT l.l_orderkey AS lo, l.l_suppkey AS s1
        |  FROM lineitem l JOIN f ON l.l_orderkey = f.o_orderkey
        |  WHERE l.l_shipdate > f.o_orderdate + INTERVAL 90 DAY),
        |w AS (
        |  SELECT * FROM late t
        |  WHERE EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = t.lo AND l2.l_suppkey <> t.s1)
        |    AND NOT EXISTS (SELECT 1 FROM late l3
        |                    WHERE l3.lo = t.lo AND l3.s1 <> t.s1)),
        |g AS (SELECT s1, count(*) AS numwait FROM w GROUP BY s1)
        |SELECT s.s_name, g.numwait
        |FROM g JOIN supplier s ON g.s1 = s.s_suppkey
        |ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin,
    "q_tpch_q22" ->
      """WITH cs AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(floor(100.0 * c_acctbal) AS BIGINT) AS bal_c
        |  FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
        |thr AS (SELECT CAST(sum(bal_c) AS HUGEINT) AS sum_c, count(*) AS cnt
        |        FROM cs WHERE bal_c > 0),
        |sel AS (
        |  SELECT c_nationkey, bal_c FROM cs, thr
        |  WHERE CAST(bal_c AS HUGEINT) * cnt > sum_c
        |    AND NOT EXISTS (SELECT 1 FROM orders o
        |                    WHERE o.o_custkey = cs.c_custkey
        |                      AND o.o_orderdate >= TIMESTAMP '1999-01-01'))
        |SELECT c_nationkey, count(*) AS numcust,
        |  CAST(sum(bal_c) AS DOUBLE) / 100.0 AS totacctbal
        |FROM sel GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) -
        |            CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((s_nationkey = 3 AND c_nationkey = 8) OR
        |       (s_nationkey = 8 AND c_nationkey = 3))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_tpch_q8" ->
      """WITH j AS (
        |  SELECT year(o_orderdate) AS o_year, s_nationkey,
        |    CAST(floor(100.0 * l_extendedprice) AS BIGINT) AS price_c,
        |    CAST(floor(100.0 * l_discount) AS BIGINT) AS d_pct
        |  FROM lineitem
        |    JOIN part     ON l_partkey = p_partkey
        |    JOIN orders   ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation   ON c_nationkey = n_nationkey
        |    JOIN region   ON n_regionkey = r_regionkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
        |    AND o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'),
        |a AS (SELECT o_year,
        |  CAST(sum(CASE WHEN s_nationkey = 3
        |                THEN price_c * (100 - d_pct) ELSE 0 END) AS BIGINT) AS nat_e4,
        |  CAST(sum(price_c * (100 - d_pct)) AS BIGINT) AS total_e4
        |  FROM j GROUP BY o_year)
        |SELECT o_year,
        |  CAST(floor(10000.0 * nat_e4 / total_e4) AS BIGINT) AS share_bp,
        |  nat_e4, total_e4
        |FROM a ORDER BY o_year""".stripMargin,
    "q_tpch_q9" ->
      """SELECT n_name, year(o_orderdate) AS o_year, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (CAST(1 AS DECIMAL(18,2)) -
        |            CAST(l_discount AS DECIMAL(18,2))) -
        |           CAST(p_retailprice AS DECIMAL(18,2)) *
        |           CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
        |FROM lineitem
        |  JOIN part     ON l_partkey = p_partkey
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation   ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY n_name, o_year
        |ORDER BY n_name, o_year DESC""".stripMargin,
    "q_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        (CAST(1 AS DECIMAL(18,2)) -
        |         CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q_tpch_q20" ->
      """WITH lq AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(floor(100.0 * l_quantity) AS BIGINT) AS qc
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'PROMO'),
        |per_supp AS (SELECT l_partkey, l_suppkey,
        |  CAST(sum(qc) AS BIGINT) AS supp_qc FROM lq GROUP BY 1, 2),
        |per_part AS (SELECT l_partkey,
        |  CAST(sum(qc) AS BIGINT) AS tot_qc FROM lq GROUP BY 1),
        |dom AS (
        |  SELECT DISTINCT s.l_suppkey
        |  FROM per_supp s JOIN per_part p ON s.l_partkey = p.l_partkey
        |  WHERE 8 * s.supp_qc > p.tot_qc)
        |SELECT s_suppkey, s_name
        |FROM dom JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY s_suppkey""".stripMargin,
    "q_tpch_q2" ->
      """WITH offers AS (
        |  SELECT p.p_partkey, p.p_name, s.s_name, s.s_acctbal, n.n_name,
        |    l.l_extendedprice / l.l_quantity AS unit
        |  FROM lineitem l
        |    JOIN part p ON l.l_partkey = p.p_partkey
        |    JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |    JOIN nation n ON s.s_nationkey = n.n_nationkey
        |    JOIN region r ON n.n_regionkey = r.r_regionkey
        |  WHERE p.p_size = 15 AND r.r_name = 'EUROPE'),
        |minu AS (SELECT p_partkey AS pk, min(unit) AS min_unit
        |         FROM offers GROUP BY 1)
        |SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name,
        |  unit AS min_cost
        |FROM offers JOIN minu ON p_partkey = pk AND unit = min_unit
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    "q_tpch_q11" ->
      """WITH v AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(floor(100.0 * l_extendedprice) AS BIGINT))
        |         AS BIGINT) AS value_c
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey < 13 GROUP BY 1),
        |t AS (SELECT CAST(sum(value_c) AS HUGEINT) AS tot_c,
        |             count(*) AS np FROM v)
        |SELECT l_partkey, CAST(value_c AS DOUBLE) / 100.0 AS value
        |FROM v, t
        |WHERE 2 * CAST(value_c AS HUGEINT) * np > 3 * tot_c
        |ORDER BY value DESC, l_partkey""".stripMargin,
    "q_tpch_q12" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_tpch_q16" ->
      """WITH assoc AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |kept AS (
        |  SELECT * FROM assoc a
        |  WHERE NOT EXISTS (SELECT 1 FROM supplier s
        |                    WHERE s.s_suppkey = a.l_suppkey
        |                      AND s.s_acctbal < 0))
        |SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM kept JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_brand <> 'Brand#2'
        |  AND p_size IN (1, 5, 9, 15, 25, 35, 45, 49)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
  )
}
