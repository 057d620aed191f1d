package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Top-k helpers that avoid unpartitioned window functions. */
object TopK {

  /** Append a bigint `rank` = dense_rank of `cntCol` (descending),
    * keeping only rows whose value is among the top `k` DISTINCT
    * values — WITHOUT a window function: the distinct top-k values
    * (TakeOrderedAndProject) self-join into a k-row (value → rank)
    * map that is broadcast back onto `df`, so the plan stays fully
    * parallel at any key cardinality (an unpartitioned
    * `dense_rank().over(orderBy)` funnels every row through one
    * partition). Used by q02 (and by the replay leaderboards' test
    * oracle). */
  def withDenseRank(df: DataFrame, cntCol: String, k: Int): DataFrame = {
    val top = df.select(col(cntCol)).distinct()
      .orderBy(col(cntCol).desc).limit(k)
    val ranked = top
      .join(broadcast(top.select(col(cntCol).as("graft_cnt_ge"))),
        col(cntCol) <= col("graft_cnt_ge"))
      .groupBy(col(cntCol))
      // dense_rank(v) ≡ #distinct values ≥ v within the top-k set
      .agg(countDistinct(col("graft_cnt_ge")).cast("bigint").as("rank"))
    df.join(broadcast(ranked), Seq(cntCol))
  }
}
