"""Declared query inventory (SURVEY.md §2.2 binding contract).

Importing this package populates the registry with every implemented
query. Each query is a ``(spark, sf_dir) -> DataFrame`` callable plus,
where SQL-expressible, a DuckDB oracle SQL string the driver
hash-matches at sf0.01.
"""

from .registry import ORACLES, QUERIES, query  # noqa: F401

# import for side effects: each module registers its queries
from . import tier0  # noqa: F401,E402
from . import tier1  # noqa: F401,E402
from . import tier1b  # noqa: F401,E402
from . import tier1c  # noqa: F401,E402
from . import tier1d  # noqa: F401,E402
from . import tier1e  # noqa: F401,E402
from . import tier2  # noqa: F401,E402
from . import tpch_like  # noqa: F401,E402
from . import tpch_like2  # noqa: F401,E402
from . import tpch_like3  # noqa: F401,E402
from . import tier6  # noqa: F401,E402
from . import tier7  # noqa: F401,E402
from . import tier8  # noqa: F401,E402
from . import tier9  # noqa: F401,E402
from . import tier10  # noqa: F401,E402
from . import tier11  # noqa: F401,E402
from . import tier12  # noqa: F401,E402
from . import tier13  # noqa: F401,E402
from . import tier15  # noqa: F401,E402
from . import tier16  # noqa: F401,E402  (reads tier2's oracles; keep after)
from . import tier17  # noqa: F401,E402
from . import tier18  # noqa: F401,E402
from . import tier19  # noqa: F401,E402
from . import tier20  # noqa: F401,E402
from . import tier21  # noqa: F401,E402
from . import tier22  # noqa: F401,E402
from . import tier23  # noqa: F401,E402
from . import tier25  # noqa: F401,E402
from . import tier26  # noqa: F401,E402
from . import tier27  # noqa: F401,E402
from . import tier28  # noqa: F401,E402
from . import tier29  # noqa: F401,E402
from . import tier30  # noqa: F401,E402
from . import tier31  # noqa: F401,E402
from . import tier32  # noqa: F401,E402
from . import tier33  # noqa: F401,E402
from . import tier34  # noqa: F401,E402
from . import tier35  # noqa: F401,E402
from . import tier36  # noqa: F401,E402
from . import tier37  # noqa: F401,E402
from . import tier38  # noqa: F401,E402
from . import tier39  # noqa: F401,E402
from . import tier40  # noqa: F401,E402
from . import tier41  # noqa: F401,E402
from . import tier42  # noqa: F401,E402
from . import tier43  # noqa: F401,E402
from . import tier44  # noqa: F401,E402
from . import tier45  # noqa: F401,E402
from . import tier3  # noqa: F401,E402
from . import tier3b  # noqa: F401,E402
from . import tier3c  # noqa: F401,E402
from . import tier4  # noqa: F401,E402
from . import tier5  # noqa: F401,E402
from . import tier24  # noqa: F401,E402
from . import tier27m  # noqa: F401,E402
