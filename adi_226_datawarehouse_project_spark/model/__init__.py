from .star import STAR_TABLES, oracle_with_chain, register_star_views

__all__ = ["STAR_TABLES", "oracle_with_chain", "register_star_views"]
