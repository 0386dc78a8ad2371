from .golden import GOLDEN_QUERIES

__all__ = ["GOLDEN_QUERIES"]
