"""Column-function library. Every spatial operator reaches cell geometry
through the planar Morton index in cells.py."""
