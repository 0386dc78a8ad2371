from .geohash import encode_geohash_py, geohash_sql

__all__ = ["encode_geohash_py", "geohash_sql"]
