"""DataFrame operators: the touch transform, the adjacency index,
graph components and the analytics operators.  Import each name from
its defining module."""
