"""spider_spark — a PySpark-native crawl/analytics engine.

A from-scratch rebuild of the observable semantics of the reference
(``/root/reference/pyspiders-master``, a Scrapy 2.3 fleet of 3,788
rental-listing spiders) as set-oriented DataFrame transformations:

* URL frontier + seen-set dedup   -> ``operators.dedup``
* politeness / priority scheduler -> ``operators.politeness``
* fetch + parse + span documents  -> ``sources.fetch``, ``plans.engine``
* normalize scalar functions      -> ``functions.normalize``
* training-data ops (dedup/ANN/..)-> ``operators.textdedup``, ``operators.ann``

Everything is DataFrame/SQL-first; row-level logic runs in vectorized
pandas/Arrow UDFs only (no per-row Python UDFs).
"""

from . import _zipcache  # noqa: F401  (lazy zip refresh per Python task; see module)

__version__ = "0.1.0"
