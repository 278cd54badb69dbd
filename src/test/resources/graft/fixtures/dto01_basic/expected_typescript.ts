export interface RecordUser {
  id: number;
  email?: string;
}

export interface Record {
  id: number;
  name?: string;
  price: number;
  active: boolean;
  tags?: unknown;
  user: RecordUser;
  /** json: "display-name" */
  displayName: string;
}
