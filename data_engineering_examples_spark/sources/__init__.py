from .tables import TABLES, load_tables

__all__ = ["TABLES", "load_tables"]
