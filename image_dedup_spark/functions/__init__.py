from image_dedup_spark.functions import hashing, text
from image_dedup_spark.functions.fingerprints import make_fingerprint_udf

__all__ = [
    "hashing",
    "text",
    "make_fingerprint_udf",
]
