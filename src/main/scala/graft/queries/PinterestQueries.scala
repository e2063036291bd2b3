package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{Buckets, Ranking}

/** The reference's five analytics queries (reference README.md:449-597)
  * in deterministic declared form (SURVEY.md §7.3): every argmax uses
  * max-count-then-lexicographic-tie-break instead of the reference's
  * order-dependent `first()`, and every output carries a total order,
  * sorted in one partition by [[Ranking.ordered]] (each output is a few
  * hundred rows at most).
  *
  * Inputs are the CLEANED tables (Cleaners.pin/geo/user output).
  */
object PinterestQueries {

  /** Top category per `group` over its per-(group, category) counts, in
    * `order`. The counts are bounded by the taxonomies (countries, post
    * years or age ranges × categories: a few thousand rows at most), so
    * they move to ONE partition before the argmax: its window needs no
    * exchange, and the final sort ([[Ranking.ordered]]) shares the task.
    */
  private def topCategory(counts: DataFrame, group: String, order: Column*): DataFrame =
    Ranking.ordered(
      Ranking.argmax(counts.coalesce(1), Seq(col(group)), col("category_count"),
        col("category")),
      order: _*)

  /** Q1 — most popular category per country (README.md:449-467).
    * Ties → lexicographically smallest category.
    */
  def topCategoryByCountry(pin: DataFrame, geo: DataFrame): DataFrame = {
    val counts = pin.join(geo, Seq("ind"), "inner")
      .groupBy(col("country"), col("category"))
      .agg(count(lit(1)).as("category_count"))
    topCategory(counts, "country", col("category_count").desc, col("country").asc)
  }

  /** Q2 — most popular category per post year (README.md:474-496). */
  def topCategoryByYear(pin: DataFrame, geo: DataFrame): DataFrame = {
    val counts = pin.join(geo, Seq("ind"), "inner")
      .withColumn("post_year", year(col("timestamp")))
      .groupBy(col("post_year"), col("category"))
      .agg(count(lit(1)).as("category_count"))
    topCategory(counts, "post_year", col("post_year").desc)
  }

  /** Q3a — user with most followers per country (README.md:504-524).
    * The 3-way join uses key-list form, so no duplicate `ind` columns
    * appear (the reference needed a manual .drop, README.md:509).
    *
    * Grouping key is the cleaned USER table's `user_name`
    * (README.md:517 `joined_df.groupBy('user_name', 'country')`), NOT
    * the pin table's `poster_name`; the reference merely ALIASES the
    * winning user_name as "poster_name" in its output (README.md:521),
    * which this preserves. Ties → smallest user_name (§7.3).
    */
  def topFollowersByCountry(pin: DataFrame, geo: DataFrame, user: DataFrame): DataFrame = {
    val joined = pin.join(geo, Seq("ind"), "inner").join(user, Seq("ind"), "inner")
    val maxPerUser = joined
      .groupBy(col("country"), col("user_name"))
      .agg(max(col("follower_count")).as("follower_count"))
    Ranking.ordered(
      Ranking.argmax(maxPerUser, Seq(col("country")), col("follower_count"), col("user_name"))
        .withColumnRenamed("user_name", "poster_name"),
      col("country").asc)
  }

  /** Q3b — the single country whose top user has the most followers
    * overall (README.md:526-534): global argmax over Q3a.
    */
  def topFollowersOverall(pin: DataFrame, geo: DataFrame, user: DataFrame): DataFrame =
    Ranking.argmaxGlobal(
      topFollowersByCountry(pin, geo, user),
      col("follower_count"), col("country"))

  /** Q4 — most popular category per age range (README.md:546-575). */
  def topCategoryByAgeRange(pin: DataFrame, user: DataFrame): DataFrame = {
    val counts = pin.join(user, Seq("ind"), "inner")
      .withColumn("age_group", Buckets.ageRange(col("age")))
      .groupBy(col("age_group"), col("category"))
      .agg(count(lit(1)).as("category_count"))
    topCategory(counts, "age_group", col("age_group").asc)
  }

  /** Q5 — users joined per year (README.md:583-592). Implemented over
    * the user table alone — the reference snippet accidentally reuses
    * query-4's joined DataFrame (README.md:586); the documented intent
    * (README.md:583-584) is what this computes.
    */
  def usersJoinedPerYear(user: DataFrame): DataFrame =
    Ranking.ordered(
      user
        .withColumn("join_year", year(col("date_joined")))
        .groupBy(col("join_year"))
        .agg(count(lit(1)).as("number_users_joined")),
      col("join_year").asc)
}
