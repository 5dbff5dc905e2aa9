from .spec import (ConditionalRule, DirectMapRule, LookupRule, Rule,
                   parse_pipeline)
from .compiler import compile_pipeline
from .expr import translate_expr

__all__ = [
    "Rule", "DirectMapRule", "ConditionalRule", "LookupRule",
    "parse_pipeline", "compile_pipeline", "translate_expr",
]
