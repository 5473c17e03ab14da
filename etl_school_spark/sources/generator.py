"""Deterministic synthetic-data generators (SURVEY.md §2.1 S1/S2/S12).

The reference generates car-order and car-detail records with Faker
(data_generator.py, data_generator_car_details.py) and credit-card events
with a Java proc (A4:105-196). The engine's generators are seeded and
expression-based: ``spark.range(n)`` + xxhash64-derived pseudo-randomness,
so output is reproducible and generation is distributed (no driver loop —
a 10-billion-row backfill generates in parallel on the cluster).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_school_spark.operators.setops import values_table

# small engine-native catalog (dimension the orders generator looks up —
# the reference uses a 29-entry JSON catalog; values here are our own)
CAR_CATALOG = [
    ("Aster 100", "Aster", "Petrol", 95, 18500, "Citadine", None, 5.6, 2019),
    ("Aster 300", "Aster", "Hybrid", 140, 28900, "Compacte", None, 4.2, 2021),
    ("Borea X", "Borea", "Electric", 204, 41200, "SUV", 450, 16.8, 2022),
    ("Borea S", "Borea", "Electric", 325, 55300, "Berline", 560, 15.1, 2023),
    ("Corvus GT", "Corvus", "Petrol", 310, 62800, "Coupe", None, 9.1, 2020),
    ("Corvus City", "Corvus", "Hybrid", 122, 24600, "Citadine", None, 4.0, 2022),
    ("Dorado L", "Dorado", "Diesel", 190, 39800, "Break", None, 5.9, 2018),
    ("Dorado Mini", "Dorado", "Petrol", 75, 14900, "Citadine", None, 5.2, 2017),
]

CAR_CATALOG_SCHEMA = (
    "car_model string, brand string, engine string, horsepower long, prix_estime long, "
    "type string, autonomy long, consumption double, release_date long"
)


def car_catalog(spark: SparkSession) -> DataFrame:
    return values_table(spark, CAR_CATALOG, CAR_CATALOG_SCHEMA)


def _h(seed: int, *cols) -> F.Column:
    """Deterministic positive 'random' long from the row id."""
    return F.abs(F.xxhash64(F.lit(seed), *cols))


def gen_buy_orders(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """S1: n car-purchase records with nullable PII fields (the generator
    marks ~1/3 of optional fields NULL — fake.none_or semantics)."""
    cat = car_catalog(spark)
    n_models = len(CAR_CATALOG)
    base = spark.range(n).select(
        F.col("id"),
        F.sha2(F.concat(F.lit(f"tx{seed}:"), F.col("id").cast("string")), 256).substr(1, 32).alias("txid"),
        F.concat(F.lit("0x"), F.lpad(F.hex(_h(seed + 1, F.col("id")) % F.lit(2**48)), 24, "0")).alias("rfid"),
        (_h(seed + 2, F.col("id")) % n_models).alias("_model_idx"),
        F.expr(
            "timestampadd(SECOND, -(abs(xxhash64(id, 3)) % (730*86400)), TIMESTAMP_NTZ '2026-01-01 00:00:00')"
        ).alias("purchase_time"),
        (_h(seed + 4, F.col("id")) % 7 + 1).alias("days"),
        F.concat(F.lit("Client#"), F.lpad(F.col("id").cast("string"), 9, "0")).alias("name"),
        F.when(
            _h(seed + 5, F.col("id")) % 3 < 2,
            F.struct(
                F.concat((_h(seed + 6, F.col("id")) % 999 + 1).cast("string"), F.lit(" Main St")).alias("street_address"),
                F.concat(F.lit("City"), (_h(seed + 7, F.col("id")) % 100).cast("string")).alias("city"),
                F.concat(F.lit("ST"), (_h(seed + 8, F.col("id")) % 50).cast("string")).alias("state"),
                F.lpad((_h(seed + 9, F.col("id")) % 100000).cast("string"), 5, "0").alias("postalcode"),
            ),
        ).alias("address"),
        F.when(
            _h(seed + 10, F.col("id")) % 3 < 2,
            F.concat(F.lit("+1-555-"), F.lpad((_h(seed + 11, F.col("id")) % 10000).cast("string"), 4, "0")),
        ).alias("phone"),
        F.when(
            _h(seed + 12, F.col("id")) % 3 < 2,
            F.concat(F.lit("client"), F.col("id").cast("string"), F.lit("@example.com")),
        ).alias("email"),
        F.when(
            _h(seed + 13, F.col("id")) % 3 < 2,
            F.struct(
                F.concat(F.lit("Contact#"), F.col("id").cast("string")).alias("name"),
                F.concat(F.lit("+1-555-"), F.lpad((_h(seed + 14, F.col("id")) % 10000).cast("string"), 4, "0")).alias("phone"),
            ),
        ).alias("emergency_contact"),
    )
    with_idx = cat.withColumn("_model_idx", F.row_number().over(Window.orderBy("car_model")) - 1)
    joined = base.join(F.broadcast(with_idx), "_model_idx", "left")
    return joined.select(
        "txid",
        "rfid",
        "car_model",
        "brand",
        "engine",
        "horsepower",
        F.col("prix_estime").alias("sell_price"),
        "purchase_time",
        "days",
        "name",
        "address",
        "phone",
        "email",
        "emergency_contact",
    )


def gen_cc_events(n: int, seed: int = 42) -> list[dict]:
    """S12: n credit-card payload dicts (driver-side, for staging/broker
    demos — the shape of A4:172-192). Deterministic via a seeded PRNG."""
    import random

    rng = random.Random(seed)
    out = []
    for i in range(n):
        approved = rng.random() < 10 / 11
        out.append(
            {
                "element": i,
                "object": "basic-card",
                "transaction": {
                    "id": rng.randrange(10**12),
                    "type": "PURCHASE" if rng.random() < 10 / 11 else "REFUND",
                    "amount": round(rng.uniform(1, 5000), 2),
                    "currency": "USD",
                    "timestamp": f"2026-01-{1 + i % 28:02d}T{i % 24:02d}:{i % 60:02d}:00Z",
                    "approved": approved,
                },
                "card": {"number": rng.randrange(10**15, 10**16)},
                "merchant": {"id": rng.randrange(10**8, 19 * 10**7)},
            }
        )
    return out
