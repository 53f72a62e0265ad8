"""expr — an expr-lang-compatible expression language compiled to Spark Columns.

The reference evaluates filter/transform expressions with the public
expr-lang VM (github.com/expr-lang/expr), compiled once per pipeline
(reference: glassflow-api/internal/filter/json/filter.go:20-27,
transformer/json/transformation.go:50-67). Here the same surface
compiles to ``pyspark.sql.Column`` trees so Catalyst codegen executes
them JVM-side — no Python in the row path.
"""

from .parser import parse
from .translate import ExprTranslator

__all__ = ["parse", "ExprTranslator"]
