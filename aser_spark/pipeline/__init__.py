from .extract import extract_graph_instances
from .aggregate import aggregate_edges, aggregate_nodes, build_lineage
from .graph import (build_core_kg, build_knowledge_graph, edges_wide,
                    merge_into_kg, merge_lineage)
from .concepts import (aggregate_concepts, build_concept_relations,
                       probase_concepts, seed_rule_concepts, toy_probase)
from .entities import link_entities, entity_cooccurrence_edges, toy_kb
