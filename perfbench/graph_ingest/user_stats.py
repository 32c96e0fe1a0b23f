"""Consume the new events as a stream, fold them into the per-user
aggregates and upsert only the users the batch touched."""
from patterns import Table
from pyspark.sql import functions as F

raw = Table("raw", "r")
out = Table("stats", "w")
out.init(unique_on=["user_id"])

delta_df = raw.as_stream(order_by="event_id").consume_spark()
if delta_df is not None:
    delta = delta_df.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).cast("long").alias("n_purchases"),
        F.round(F.sum("value"), 6).alias("total_value"),
        F.max("event_id").cast("long").alias("last_event"),
    )
    if out.record_count:
        prev = out.read_spark()
        delta = (
            delta.alias("d")
            .join(prev.alias("p"), "user_id", "left")
            .select(
                "user_id",
                (F.col("d.n_events") + F.coalesce(F.col("p.n_events"), F.lit(0))).alias("n_events"),
                (F.col("d.n_purchases") + F.coalesce(F.col("p.n_purchases"), F.lit(0))).alias("n_purchases"),
                F.round(F.col("d.total_value") + F.coalesce(F.col("p.total_value"), F.lit(0.0)), 6).alias(
                    "total_value"
                ),
                F.greatest(F.col("d.last_event"), F.coalesce(F.col("p.last_event"), F.lit(-1))).alias("last_event"),
            )
        )
    out.upsert(delta)
