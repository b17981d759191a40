"""Warehouse-build benchmark of the KG-construction engine (see run.py)."""
