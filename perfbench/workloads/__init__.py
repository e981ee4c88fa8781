"""The benchmark's workloads, by name."""

from .cypher_read import CypherRead
from .cypher_write import CypherWrite
from .dedup import Dedup
from .traversal import Traversal

WORKLOADS = {
    "cypher_read": CypherRead,
    "cypher_write": CypherWrite,
    "traversal": Traversal,
    "dedup": Dedup,
}
