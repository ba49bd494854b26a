INSERT INTO {table} VALUES (?, ?);
